"""Compact plan-quality table for EVERY registered workload (the
headline audit in tools/explain_audit.py dumps full plans; this one
emits one signals row per workload so scans for accidental
CartesianProduct / SortMergeJoin-of-tiny-sides cover the whole
registry, not just the bench set).

Usage: python tools/plan_signals_all.py [sf_dir] > docs/PLANS_ALL.md

Plan-diff mode — the mechanical "no behaviour change" proof: dump every
workload's optimized and physical plan text (AQE off, ids normalized)
from one checkout, dump again from another, and compare:

    python tools/plan_signals_all.py --dump before.json SF_DIR
    python tools/plan_signals_all.py --dump after.json SF_DIR
    python tools/plan_signals_all.py --diff before.json after.json

Dump at the smallest scale (sf0.001): plans do not depend on it and it
builds fastest. ``--diff`` prints each differing workload with a
unified diff and exits 1 if any differs.
"""

from __future__ import annotations

import contextlib
import difflib
import io
import json
import re
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datanika_core_spark.session import build_spark  # noqa: E402
from datanika_core_spark.workloads import load_all  # noqa: E402

SIGNALS = {
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "exch": r"\bExchange\b",
    "pushed": r"PushedFilters: \[[^\]]",
    "bnl": r"BroadcastNestedLoopJoin",
    "cart": r"CartesianProduct",
}

#: logical nodes that bound the cardinality flowing into a window:
#: any aggregate collapses the corpus to a readout grid; Range /
#: LocalRelation / limits are small by construction
_BOUNDING = {
    "Aggregate", "Range", "LocalRelation", "OneRowRelation",
    "GlobalLimit", "LocalLimit", "Deduplicate",
}


def _children(node):
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def _scan_reachable(node) -> bool:
    name = node.nodeName()
    if name in _BOUNDING:
        return False
    if name == "InMemoryRelation":
        # a cached frame hides its lineage from children(); treat it
        # as bounded when the cached plan aggregated (the readout-grid
        # cache pattern), as a raw scan otherwise
        try:
            return "Aggregate" not in node.cachedPlan().toString()
        except Exception:
            return True
    if "Relation" in name:  # LogicalRelation / DataSourceV2Relation
        return True
    return any(_scan_reachable(c) for c in _children(node))


def unbounded_global_windows(df) -> int:
    """Count logical Window nodes with an EMPTY partition spec that
    can see a source scan below them with NO intervening aggregate —
    a single-partition sort over corpus-sized input, the one window
    shape that cannot survive a 100x scale-up. Global windows over an
    aggregated readout grid (|types| x |days| etc.) don't count."""
    plan = df._jdf.queryExecution().optimizedPlan()
    count = 0
    stack = [plan]
    while stack:
        n = stack.pop()
        if n.nodeName() == "Window" and n.partitionSpec().isEmpty():
            if any(_scan_reachable(c) for c in _children(n)):
                count += 1
        stack.extend(_children(n))
    return count


#: per-session counters in plan text: expression ids (``col#12L``),
#: lambda variables (``x_3``), plan / relation ids and observation
#: (CollectMetrics) uuids
_PLAN_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bx_\d+"), "x_N"),
    (re.compile(r"\b(plan_id|id)=\d+"), r"\1=N"),
    (re.compile(r"\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b"), "<uuid>"),
]


def normalized_plans(df, warehouse: str) -> str:
    """Optimized + physical plan text of ``df`` (no job runs), with
    the per-session ids of :data:`_PLAN_IDS` and the session's
    warehouse path normalized away. Expression eval modes (e.g.
    ``try_divide`` vs ``/``) do not appear in plan text."""
    qe = df._jdf.queryExecution()
    text = (f"== Optimized ==\n{qe.optimizedPlan().toString()}\n"
            f"== Physical ==\n{qe.executedPlan().toString()}")
    text = text.replace(warehouse, "<warehouse>")
    for pat, repl in _PLAN_IDS:
        text = pat.sub(repl, text)
    return text


def dump_plans(out: str, sf_dir: str) -> int:
    from datanika_core_spark.blocks import release_blocks

    warehouse = tempfile.mkdtemp(prefix="plan_dump_wh_")
    spark = build_spark(app_name="plan_dump", warehouse_dir=warehouse)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    plans = {}
    for name, wl in sorted(load_all().items()):
        try:
            plans[name] = normalized_plans(wl.fn(spark, sf_dir), warehouse)
        except Exception as e:  # recorded, so a diff shows it too
            plans[name] = f"ERROR {type(e).__name__}"
        release_blocks(spark)
    spark.stop()
    shutil.rmtree(warehouse, ignore_errors=True)
    Path(out).write_text(json.dumps(plans, indent=0, sort_keys=True))
    print(f"{len(plans)} plans -> {out}")
    return 0


def diff_plans(a_path: str, b_path: str) -> int:
    a = json.loads(Path(a_path).read_text())
    b = json.loads(Path(b_path).read_text())
    differ = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for n in differ:
        print(f"## {n}")
        sys.stdout.writelines(difflib.unified_diff(
            (a.get(n) or "").splitlines(True), (b.get(n) or "").splitlines(True),
            a_path, b_path, n=1))
        print()
    print(f"{len(differ)} of {len(a.keys() | b.keys())} workloads differ")
    return 1 if differ else 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if sys.argv[1:2] == ["--dump"]:
        return dump_plans(sys.argv[2], sys.argv[3])
    if sys.argv[1:2] == ["--diff"]:
        return diff_plans(sys.argv[2], sys.argv[3])
    spark = build_spark(app_name="plan_signals_all")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    print("# Plan signals — all workloads\n")
    print(f"Input: `{sf_dir}`. One row per registry entry; regenerate "
          "with `tools/plan_signals_all.py` after plan-affecting "
          "changes. `cart` > 0 or an unexplained `smj` on a tiny side "
          "is a bug signal.\n")
    print("| workload | bhj | smj | exch | pushed | bnl | cart | gw "
          "| note |")
    print("|---|---|---|---|---|---|---|---|---|")
    flagged = []
    gw_flagged = []
    for name, wl in sorted(load_all().items()):
        t0 = time.perf_counter()
        try:
            df = wl.fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
            c = {k: len(re.findall(p, text)) for k, p in SIGNALS.items()}
            gw = unbounded_global_windows(df)
            notes = []
            if c["cart"]:
                notes.append("CARTESIAN")
                flagged.append(name)
            if gw:
                notes.append("GLOBAL-WINDOW-ON-SCAN")
                gw_flagged.append(name)
            print(
                f"| {name} | {c['bhj']} | {c['smj']} | {c['exch']} |"
                f" {c['pushed']} | {c['bnl']} | {c['cart']} | {gw} |"
                f" {' '.join(notes)} |"
            )
        except Exception as e:  # driver-loop workloads execute eagerly
            print(f"| {name} | — | — | — | — | — | — | — |"
                  f" plan-only failed: {type(e).__name__} |")
        if time.perf_counter() - t0 > 60:
            print(f"<!-- {name} took >60s to plan -->")
    rc = 0
    if flagged:
        print(f"\n**CartesianProduct found in: {flagged}**")
        rc = 1
    else:
        print("\nNo CartesianProduct anywhere in the registry.")
    if gw_flagged:
        print(f"\n**Unbounded global window (no partition spec over a "
              f"raw scan) found in: {gw_flagged}**")
        rc = 1
    else:
        print("\nNo unbounded global windows: every partition-less "
              "window runs on an aggregated readout grid.")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

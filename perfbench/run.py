"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: analytic_sf0.1, interactive_sf0.001, elt_daily_cycle (see
README.md). The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it, ``# run {...}``, carries the run's telemetry, its
input digest and the workload's own named metrics (``failed_frac``,
``queries_per_s``, ``cycle_p50_s`` and so on).

A traced run writes its spans as JSON lines to
``.bench_runs/spans-<workload>-seed<n>.jsonl``. ``--plant 1`` makes one
output wrong on purpose (the self-test that the checks count it as
failed).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

WORKLOADS = ("analytic_sf0.1", "interactive_sf0.001", "elt_daily_cycle")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(passes, setup_s: float) -> dict[str, float]:
    """``ops_per_s`` is the median over the run's timed passes of the
    correct operations a pass completed per second of its wall time."""
    rates = [sum(ok for _, ok in p) / sum(dt for dt, _ in p) for p in passes]
    return {"setup_s": setup_s, "ops_per_s": statistics.median(rates)}


def named(workload: str, ops, e2e: dict, extra: dict) -> dict:
    """The workload's own metrics: per query or per daily cycle."""
    lat = [dt for _, dt, _ in ops]
    out = {"failed_frac": sum(1 for *_, ok in ops if not ok) / len(ops),
           "setup_s": e2e["setup_s"]}
    if workload == "elt_daily_cycle":
        out["cycle_p50_s"] = statistics.median(lat)
    else:
        out.update(queries_per_s=e2e["ops_per_s"], query_p50_s=statistics.median(lat),
                   query_p75_s=harness.quantile(lat, 0.75))
    out.update(extra)
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not harness.package_importable():
        print("perfbench: the datanika_core_spark package is not importable "
              "from this checkout", file=sys.stderr)
        return 2
    import layers
    import spans

    with harness.Run(trace=bool(args.trace)) as run:
        tracer = None
        if args.trace:
            tracer = spans.Tracer()
            tracer.install()
        spark = run.start_session()
        if args.workload == "elt_daily_cycle":
            from elt import EltWorkload as cls
        else:
            from queries import QueryWorkload as cls
        wl = cls(args.workload, run, spark, args.seed, tracer, bool(args.plant))
        # set-up jobs get a span of their own, so trace.untagged_jobs
        # counts only jobs no wrapped call accounts for
        with tracer.span("setup") if tracer else nullcontext():
            wl.setup()
        setup_s = time.perf_counter() - T_START
        ops = wl.measure(args.seconds)
        e2e = end_to_end(wl.passes, setup_s)
        extra = wl.extra()
        run.stop_session()
        telemetry = run.finish_telemetry()
        if tracer:
            untagged = spans.fold_event_log(run.event_log(), tracer.spans)
            metrics = layers.per_layer(tracer, ops, wl, run, untagged, e2e)
            spans.dump(tracer.spans, harness.RUNS_DIR
                       / f"spans-{args.workload}-seed{args.seed}.jsonl")
        else:
            metrics = e2e

    failed = sum(1 for *_, ok in ops if not ok)
    print("# run " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs_digest": wl.inputs_digest(),
        "ops": [[name, round(dt, 4), ok] for name, dt, ok in ops],
        **telemetry, "named": named(args.workload, ops, e2e, extra),
    }))
    units = layers.UNITS
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

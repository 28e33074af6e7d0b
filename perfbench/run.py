"""Benchmark entry point.

    python3 perfbench/run.py --workload tsdb_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root.  Prints a human-readable report and, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

T_TICKS = harness.cpu_ticks()

WORKLOADS = ("tsdb_mixed", "curation")

# gated in BENCHMARK.json: emitted by every workload, never 0
GATED_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# printed on every run: setup_s and ops_per_s without their steal
# adjustment, read latencies that rest on a few samples per run and move
# with the host, the error ratio (0 by design), and metrics of tsdb_mixed
# only
REPORTED_UNITS = {
    **GATED_UNITS,
    "setup_s_unadjusted": "s",
    "ops_per_s_unadjusted": "1/s",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "error_ratio": "ratio",
    "write_rows_per_s": "rows/s",
    "write_p50_ms": "ms",
    "write_tail_ms": "ms",
    "maintenance_s": "s",
    "bytes_per_row": "B",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale",
        choices=("bench", "tiny"),
        default="bench",
        help="tiny: seconds-long inputs for the smoke test",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, "incubator_horaedb_spark")):
        print(
            "perfbench: run from the repository root; incubator_horaedb_spark/ "
            "is not in the current directory",
            file=sys.stderr,
        )
        return 2
    harness.prepare_env()
    if args.workload == "tsdb_mixed":
        from tsdb import TsdbMixed as workload
    else:
        from curation import Curation as workload
    result = run(workload, args)
    report(args, result)
    return 0


def run(workload, args) -> dict:
    """Set up and warm up, run the timed window, calibrate.

    With ``--trace 1`` the timed window runs traced and gives the per-layer
    metrics; then two more units, half their ops traced, give the tracing
    overhead on ``ops_per_s``."""
    from tracing import make_tracer

    data, gen_s = workload.generate_data(args)  # not part of set-up time
    with harness.RssSampler() as rss:
        t = time.perf_counter()
        spark = harness.start_session(ui=bool(args.trace))
        session_s = time.perf_counter() - t
        tracer = make_tracer(args.trace, spark)
        if args.trace:
            workload.install_hooks(tracer)
        w = workload(spark, args, tracer, data)
        w.warmup()
        setup_raw = time.perf_counter() - T_START - gen_s
        setup_steal = harness.steal_pct(T_TICKS, harness.cpu_ticks())
        tracer.reset()
        ticks = harness.cpu_ticks()
        window = harness.run_window(w.steps(), args.seconds, w.UNIT_S)
        steal = harness.steal_pct(ticks, harness.cpu_ticks())
        if args.trace:
            layers = tracer.layer_metrics(session_s)
            untraced, traced = tracing_overhead(w.steps(), tracer)
            layers["trace.untraced_ops_per_s"] = (untraced, "1/s")
            layers["trace.traced_ops_per_s"] = (traced, "1/s")
            layers["trace.overhead_pct"] = (100.0 * (untraced - traced) / untraced, "%")
        e2e, more = w.metrics(window)
        w.close()
    calib = harness.calibration(spark)  # counts in no figure
    calib["setup_steal_pct"] = setup_steal
    calib["window_steal_pct"] = steal
    harness.stop_session(spark)
    detail = {
        "window": window.detail(),
        **more,
        "session_start_s": session_s,
        "peak_rss_mb_by_command": rss.peak_by_name,
        "data_gen_s": gen_s,
        "calibration": calib,
    }
    result = {
        "end_to_end": {
            "setup_s": harness.steal_adjusted(setup_raw, setup_steal),
            "setup_s_unadjusted": setup_raw,
            "ops_per_s": window.ops_per_s(),
            "ops_per_s_unadjusted": window.raw_ops_per_s(),
            "peak_rss_mb": rss.peak_mb,
            "error_ratio": w.failed / w.attempted,
            **e2e,
        },
        "detail": detail,
        "attempted": w.attempted,
        "failed": w.failed,
    }
    if args.trace:
        result["per_layer"] = layers
    return result


def tracing_overhead(steps, tracer) -> tuple[float, float]:
    """``ops_per_s`` untraced and traced over two more units, tracing every
    other op, the other half of the ops in the second unit.  Each op kind
    then runs once each way, and the drift from one unit to the next
    (warm-up still settling, a sweep with more segments to rewrite) falls
    on both sides."""
    untraced, traced = harness.Window(), harness.Window()
    for unit in range(2):
        for i, (kind, op) in enumerate(steps):
            tracer.enabled = (i + unit) % 2 == 1
            (traced if tracer.enabled else untraced).run(kind, op)
    tracer.enabled = True
    return untraced.ops_per_s(), traced.ops_per_s()


def report(args, result: dict) -> None:
    """Print every metric by name with its unit, then the JSON line."""
    e2e = result["end_to_end"]
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}")
    for name, value in e2e.items():
        print(f"{name} = {value:.6g} {REPORTED_UNITS[name]}")
    for name, value in result.get("per_layer", {}).items():
        print(f"{name} = {value[0]:.6g} {value[1]}")
    print("# detail " + json.dumps(result["detail"], sort_keys=True, default=str))
    if args.trace:
        metrics = {
            k: {"value": v, "unit": u} for k, (v, u) in result["per_layer"].items()
        }
    else:
        metrics = {
            k: {"value": e2e[k], "unit": u} for k, u in GATED_UNITS.items()
        }
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())

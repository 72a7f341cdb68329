"""Benchmark entry point.

    python3 perfbench/run.py --workload clips_validate --seed 1 --seconds 20 --trace 0

Runs one seeded workload against the package on local[nproc], checks
its outputs, prints a table of every metric and then, as the last line
of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json. With --trace 1 the run measures the workload untraced,
restarts the Spark context with the event log on, measures it again
with every call tagged by job group, writes the per-layer ledger to
.perfbench/ledger/, and the metrics are the per-layer ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from harness import LEDGERS, ROOT, WORK, Recorder, Session, Tally, pin_environment

# A workload class offers: setup(spark) and rebind(spark) after a
# context restart; measure(seconds, rec, tally) -> its metrics, the gated
# ones by their BENCHMARK.json names; check_outputs(rec, tally);
# warm_headline(untraced metrics) -> the untraced primary_s that a traced
# run is compared with; layers(ledger rows) -> the per-layer metrics;
# close().


def metric_units(kind: str) -> dict:
    """name -> unit of the gated end-to-end or the per-layer metrics."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def workload_class(name: str):
    if name == "clips_validate":
        from clips_validate import ClipsValidate

        return ClipsValidate
    if name == "sensor_serving":
        from sensor_serving import SensorServing

        return SensorServing
    raise SystemExit(f"unknown workload {name!r}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    env = pin_environment()
    wl = workload_class(args.workload)(args.seed)
    tally = Tally()
    session = Session(env)
    try:
        t0 = time.perf_counter()
        spark = session.start()
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        rec = Recorder(wl.name, spark)
        t1 = time.perf_counter()
        untraced = wl.measure(args.seconds, rec, tally)
        peak_rss_mb = session.jvm_peak_rss_mb()
        t2 = time.perf_counter()
        wl.check_outputs(rec, tally)
        report = {
            "setup_s": setup_s, **untraced, "peak_rss_mb": peak_rss_mb,
            "phase.measure_s": t2 - t1, "phase.check_s": time.perf_counter() - t2,
        }
        metrics = {k: (report[k], u) for k, u in metric_units("end_to_end").items()}
        if args.trace:
            metrics, layer_report = traced(wl, session, args, untraced, tally)
            report.update(layer_report)
        else:
            wl.close()
    finally:
        session.close()
    report["error_rate"] = tally.error_rate

    print(f"# {wl.name} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("# env " + json.dumps(env, sort_keys=True))
    for k, v in report.items():
        print(f"{wl.name:16s} {k:40s} {v:.6g}" if isinstance(v, float)
              else f"{wl.name:16s} {k:40s} {v}")
    for p in tally.problems:
        print(f"# FAILED {p}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def traced(wl, session: Session, args, untraced: dict, tally: Tally):
    """Measure again with the event log on; build and write the ledger."""
    from ledger import ledger, read_event_log

    baseline = wl.warm_headline(untraced)
    wl.close()
    session.stop_context()
    log_dir = WORK / "eventlog"
    spark = session.start(event_log_dir=log_dir)
    wl.rebind(spark)
    rec = Recorder(wl.name, spark, tag_jobs=True)
    since = time.time()
    summary = wl.measure(args.seconds, rec, tally)
    wl.check_outputs(rec, tally)
    wl.close()
    session.stop_context()  # flushes the event log
    rows = ledger(read_event_log(log_dir), rec.spans, wl.name, since)
    layers = {"tracing.overhead": summary["primary_s"] / baseline, **wl.layers(rows)}
    out = LEDGERS / f"{wl.name}-seed{args.seed}.json"
    out.write_text(json.dumps({
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "env": session.env, "untraced": untraced, "traced": summary,
        "layers": layers, "calls": rows,
    }, indent=1, sort_keys=True))
    metrics = {k: (float(layers[k]), u) for k, u in metric_units("per_layer").items()}
    report = {f"traced.{k}": v for k, v in summary.items()}
    report.update(layers)
    report.update({f"call {k} {f}": v for k, r in sorted(rows.items())
                   for f, v in r.items() if f in ("calls", "wall_s", "jobs", "tasks")})
    report["ledger"] = str(out.relative_to(ROOT))
    return metrics, report


if __name__ == "__main__":
    sys.exit(main())

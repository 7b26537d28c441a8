#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: ``catalog`` and
``warehouse_live`` (see BENCHMARK.json and NOTES.md). Every run checks its outputs against an oracle outside the
timed region; a mismatch counts as a failed operation.

``--trace 0`` prints every end-to-end metric. ``--trace 1`` runs the
workload untraced, then again in a fresh Spark context with spans, the
event log and progress capture on, and prints every per-layer metric;
the span file and a report with the tracing overhead (traced minus
untraced end-to-end metrics) land in ``.bench_out/``. The traced
``warehouse_live`` run also drains a seeded backlog (the replay leg:
throughput and the DWD/DIM/DWS/sink self times) and, as the
single-thread baseline, the same drain on ``local[1]``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog", "warehouse_live")


def _stop_jvm() -> None:
    """Close the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:  # the JVM exits on stdin close either way
        pass
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def _runner(workload: str):
    if workload == "catalog":
        import catalog

        return catalog.run
    import warehouse

    return warehouse.run_live


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "gmall_realtime_ck_spark")) or not os.path.isfile(spec_path):
        print("perfbench: no gmall_realtime_ck_spark package next to perfbench/", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]

    from common import Ctx, read_event_log

    ctx = Ctx(ROOT, args.workload, args.seed, args.seconds)
    run = _runner(args.workload)
    try:
        ctx.start_spark()
        jvm_start_s = ctx.start_s
        res = run(ctx, traced=False)
        attempted, failed = res["attempted"], res["failed"]
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "cpus": ctx.cpus, "jvm_start_s": jvm_start_s, "untraced": res}
        if args.trace:
            ctx.stop_spark()
            ctx.start_spark(event_log=True, tag="traced")
            tres = run(ctx, traced=True)
            tracer = ctx.tracer
            attempted += tres["attempted"]
            failed += tres["failed"]
            layer = dict(tres["layer"])
            if args.workload == "warehouse_live":
                import warehouse

                replay = warehouse.replay_layer(ctx)
                attempted += replay["attempted"]
                failed += replay["failed"]
                layer.update(replay["layer"])
                report["replay"] = replay
            t0, t1 = tres["window"]
            ctx.stop_spark()  # flushes the event log
            jvm, per_span = read_event_log(ctx.event_dir, t0, t1)
            layer.update({f"jvm.{k}": float(v) for k, v in jvm.items()})
            overhead = {k: tres["e2e"][k] - res["e2e"][k] for k in res["e2e"]}
            layer["trace.overhead_wall_s"] = overhead["wall_s"]
            report.update(traced=tres, tracing_overhead=overhead, jvm_per_span=per_span)
            if args.workload == "warehouse_live":
                ctx.start_spark(master="local[1]", tag="local1")
                base = warehouse.baseline_local1(ctx)
                attempted += base["attempted"]
                failed += base["failed"]
                layer["baseline.local1_drain_s"] = base["drain_s"]
                layer["baseline.local1_events_per_s"] = base["events_per_s"]
                report["baseline_local1"] = base
            spans = os.path.join(ctx.out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans)
            report["span_file"] = spans
            report["span_self_s"] = tracer.self_times()
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            values = layer
        else:
            names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
            values = res["e2e"]
        out_name = f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(ctx.out_dir, out_name), "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        metrics = {}
        for name, unit in names:
            v = float(values.get(name, 0.0))
            metrics[name] = {"value": v, "unit": unit}
            print(f"# {args.workload} {name} = {v:.6g} {unit}")
        samples = res.get("info", {}).get("samples", {})
        print(f"# samples {json.dumps(samples)}  jvm_start_s {jvm_start_s:.2f}")
    finally:
        ctx.stop_spark()
        _stop_jvm()
        ctx.cleanup()
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

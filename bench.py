#!/usr/bin/env python
"""Benchmark runner — the driver's per-round BENCH entry point.

Runs every declared query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints exactly one
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall-clock seconds across the query set (each query
timed to a full materialization via a count+collect of its result).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from gmall_realtime_ck_spark import registry
    from gmall_realtime_ck_spark.catalog import load_tables
    from gmall_realtime_ck_spark.session import get_spark
    from gmall_realtime_ck_spark.streaming.pipelines import _sweep_stale_temp_dirs

    _sweep_stale_temp_dirs()  # reap SIGKILL-orphaned ckpt/streamsrc dirs
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers outside the timed region
    tables = load_tables(spark, sf_dir)
    for df in tables.values():
        df.head(1)

    # untimed engine warmup: exercise whole-stage codegen, shuffle,
    # window, HOF-lambda and Arrow/Python-worker paths once, so the
    # alphabetically-first timed queries don't absorb one-time process
    # costs (JIT, janino compile, Python worker pool spin-up) — measured
    # up to tens of seconds on a cold JVM, pure noise for per-query
    # comparisons. (Batch queries are additionally timed min-of-N —
    # see n_runs below — but this warmup still matters: it keeps the
    # FIRST of those runs from absorbing process-wide one-time costs.)
    for warm_name in (
        "q1_pricing_summary",   # scan + codegen agg
        "win_running_gmv",      # window function path
        "text_dedup_exact",     # md5 + row_number
        "cosine_topk",          # Arrow mapInPandas + numpy workers
    ):
        if warm_name in registry.BUILDERS:
            try:
                registry.BUILDERS[warm_name](tables).count()
            except Exception:
                pass

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Min-of-N timing (default 2): every round's cross-round comparison
    # has been polluted by one-shot cold-path noise (identical-code
    # swings of 0.2→3.9 s documented in COVERAGE.md; r4's flow_daily_uv
    # and graph_pagerank "regressions" both vanished on a warm re-time).
    # The min over two executions is the standard way to report the
    # code's cost rather than the JVM's mood; set SPARK_GRAFT_BENCH_RUNS=1
    # to reproduce the old single-shot behavior.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

    def timed(name, run, tag="", runs=None, materialize="noop"):
        # Batch queries are timed to a NOOP-SINK WRITE, not count():
        # Catalyst collapses count() over an unfiltered projection to a
        # file-metadata count, so every map-only query (token counts,
        # quality/readability scores, PII redaction, CDC projections …)
        # was timed at ~0.1 s while its regexp/JSON work never ran —
        # caught by the round-6 scale probe, where text_readability's
        # count()-timed cost FELL as the data grew 10×. The noop DSv2
        # sink evaluates every row at the executors and discards them
        # (no driver collect), which is the honest per-query cost.
        # Streaming results are already-materialized memory tables (the
        # real work happens inside the builder), so count() is exact
        # there and avoids rescanning the sink table.
        best, rows = None, 0
        for i in range(runs or n_runs):
            t0 = time.perf_counter()
            try:
                df = run()
                if materialize == "noop":
                    df.write.mode("overwrite").format("noop").save()
                else:
                    rows = df.count()
            except Exception as exc:  # one bad query must not sink the whole bench
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
                break  # keep an earlier successful run's timing, if any
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            if materialize == "noop" and i == 0:
                try:
                    rows = df.count()  # untimed, diagnostic only
                except Exception:
                    rows = -1  # diagnostics must not sink a timed query
        if materialize == "count":
            # Each streaming run registers a fresh uuid-named memory-sink
            # table whose rows live on the driver; with min-of-2 the bench
            # would otherwise retain TWO materialized result tables per
            # streaming query for the whole run (r8 advisor finding).
            # Counted and done with — drop them before moving on.
            for t in spark.catalog.listTables():
                if t.isTemporary and re.fullmatch(r"m[0-9a-f]{12}", t.name):
                    spark.catalog.dropTempView(t.name)
        if best is None:
            return  # every run errored
        errors.pop(name, None)  # at least one run succeeded — it counts
        timings[name] = round(best, 3)
        print(f"# {name}: {rows} rows in {timings[name]:.3f}s{tag}", file=sys.stderr)

    for name in sorted(registry.BUILDERS):
        timed(name, lambda: registry.BUILDERS[name](tables))
    # streaming runs are min-of-N like batch (default 2): each run
    # re-executes the full bounded pipeline (no cold/warm asymmetry to
    # strip — the cost IS the state-store/commit overhead), but the r8
    # same-day A/B showed single-shot streaming timings absorb the
    # host's multi-minute noise bursts wholesale (flow_funnel read
    # 31.9 s in one full run and 3.3 s in the next, identical code);
    # the min of two independent executions is the honest per-query
    # cost at ~2 min extra bench wall.
    for name in sorted(registry.STREAM_BUILDERS):
        timed(
            name,
            lambda: registry.STREAM_BUILDERS[name](spark, sf_dir),
            " (streaming)",
            materialize="count",
        )

    total = round(sum(timings.values()), 3)
    # Persist the COMPLETE per-query map to a file the repo snapshots
    # (VERDICT r9 #4): the driver keeps only ~2 KB of stdout tail, so
    # BENCH_r{N}.json preserves ~25% of the per-query numbers — enough
    # for the headline, useless for round-over-round regression
    # analysis. bench_full_latest.json is overwritten per run and
    # committed once per round, giving the full ~263-query diff.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_full_latest.json"), "w"
        ) as fh:
            json.dump(
                {
                    "sf": sf,
                    "n_queries": len(timings),
                    "value": total,
                    **({"errors": errors} if errors else {}),
                    "queries": timings,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
    except OSError as exc:  # a read-only checkout must not sink the bench
        print(f"# bench_full_latest.json not written: {exc}", file=sys.stderr)
    # Full record first (queries lead, headline keys LAST so a tail
    # capture still sees them), then a short summary line — the driver
    # keeps only ~2 KB of stdout tail, and all three prior rounds lost
    # the headline because `value` was the first key of a ~4 KB line
    # (VERDICT r3 What's-wrong #2). The last stdout line is always a
    # complete, parseable JSON object well under any tail window.
    print(
        json.dumps(
            {
                "queries": timings,
                **({"errors": errors} if errors else {}),
                "n_queries": len(timings),
                "metric": "total_query_wall_sec",
                "unit": "sec",
                "sf": sf,
                "value": total,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "n_errors": len(errors),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

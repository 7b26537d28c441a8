#!/usr/bin/env python
"""Time individual queries exactly like bench.py (noop sink for batch,
count for streaming memory-sink results), min-of-N, labelled jobs.

Usage:
    python tools/qtime.py [--runs 3] [--sf-dir DIR] name1 name2 ...

Prints one line per query: name, min seconds, all run seconds.
Used for interleaved A/B comparisons during optimization rounds — run
the same name list against two checkouts/variants back to back.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from gmall_realtime_ck_spark import registry
    from gmall_realtime_ck_spark.catalog import load_tables
    from gmall_realtime_ck_spark.session import get_spark
    from gmall_realtime_ck_spark.streaming.pipelines import _sweep_stale_temp_dirs

    _sweep_stale_temp_dirs()
    spark = get_spark(app_name="qtime")
    spark.sparkContext.setLogLevel("ERROR")
    tables = load_tables(spark, args.sf_dir)
    for df in tables.values():
        df.head(1)
    # same warmup set as bench.py
    for warm_name in (
        "q1_pricing_summary",
        "win_running_gmv",
        "text_dedup_exact",
        "cosine_topk",
    ):
        if warm_name in registry.BUILDERS:
            try:
                registry.BUILDERS[warm_name](tables).count()
            except Exception:
                pass

    out = {}
    for name in args.names:
        runs = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"qtime:{name}#{i}")
            t0 = time.perf_counter()
            try:
                if name in registry.BUILDERS:
                    df = registry.BUILDERS[name](tables)
                    df.write.mode("overwrite").format("noop").save()
                elif name in registry.STREAM_BUILDERS:
                    df = registry.STREAM_BUILDERS[name](spark, args.sf_dir)
                    df.count()
                else:
                    print(f"# {name}: unknown", file=sys.stderr)
                    break
            except Exception as exc:
                print(f"# {name}: ERROR {type(exc).__name__}: {exc}"[:300], file=sys.stderr)
                break
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if runs:
            out[name] = {"min": min(runs), "runs": runs}
            print(f"{name}\t{min(runs):.3f}\t{runs}", flush=True)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

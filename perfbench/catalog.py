"""``catalog``: a closed loop that runs one query at a time over
seeded star-schema tables and checks each result against its DuckDB
oracle.

The set is fixed here, by name. A name that is missing, has no oracle
or is a bench-only variant fails the run instead of being skipped, so
deleting a query can never read as a speed-up.

Each run first makes a check pass over the set in a seeded order: it
collects every result for the oracle check and warms each query's code
paths (JIT, generated code, Python workers); it is part of set-up. Timed
passes follow until ``--seconds`` have passed, at least three (a pass
takes 4-7 s). They time batch queries as builder call + noop-sink
write and the stateful twin as builder + ``count()``, the way
``bench.py`` times them, after one untimed warm-up pass of the same
kind (the first noop-sink write of a query still compiles code the
check pass's ``collect()`` plan did not need, and ran about 15% slower
than the next). Each query's wall is its median over the timed passes;
the percentiles are taken across the queries' walls.
"""

from __future__ import annotations

import json
import random
import time

from common import median, percentile, timed_setup

#: the costliest oracled query of three operator modules that hold most
#: of bench.py's total, with topk_two_sided_exact as the similarity one
#: (its WindowGroupLimit fix must show) — see NOTES.md for how the set
#: was cut to the time budget
BATCH_SET = [
    "topk_two_sided_exact",       # operators.similarity
    "text_containment_pairs",     # operators.dedup
    "join_temporal_dim_version",  # operators.relational
]
#: stateful streaming twin (timed as builder + count)
TWIN_SET = ["flow_daily_uv"]
#: timed passes run until --seconds have passed, and at least this many
MIN_PASSES = 3
SF = 0.01
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def module_of() -> dict[str, str]:
    from gmall_realtime_ck_spark import registry

    out = {n: "streaming" for n in registry.STREAM_BUILDERS}
    for mod in registry._MODULES:
        for n in mod.BUILDERS:
            out[n] = mod.__name__.rsplit(".", 1)[1]
    return out


def validate_set() -> None:
    from gmall_realtime_ck_spark import registry

    for name in BATCH_SET + TWIN_SET:
        declared = name in registry.BUILDERS or name in registry.STREAM_BUILDERS
        if not declared or name not in registry.ORACLES or name in registry.BENCH_ONLY:
            raise SystemExit(f"catalog query {name!r} is missing, unoracled or bench-only")


def _state_recorder(spark):
    from gmall_realtime_ck_spark.streaming.monitor import ProgressRecorder

    class StateRecorder(ProgressRecorder):
        """ProgressRecorder that also keeps each progress's state operators."""

        def __init__(self):
            super().__init__()
            self.state: list[dict] = []

        def onQueryProgress(self, event) -> None:
            super().onQueryProgress(event)
            ops = json.loads(event.progress.json).get("stateOperators") or []
            self.state.append((str(event.progress.id), ops))

    rec = StateRecorder()
    spark.streams.addListener(rec)
    return rec


def run(ctx, traced: bool) -> dict:
    from gmall_realtime_ck_spark import canon, registry
    from gmall_realtime_ck_spark.catalog import load_tables

    import datagen
    import duckdb

    validate_set()
    spark, tracer = ctx.spark, ctx.tracer
    tdir = ctx.dir("tables")

    datagen.write_star_tables(tdir, ctx.seed, SF)  # the benchmark's own input, not set-up

    def setup():
        with tracer.span("setup"):
            return load_tables(spark, tdir)

    load_s, tables = timed_setup(setup, reps=3)
    order = BATCH_SET + TWIN_SET
    random.Random(ctx.seed).shuffle(order)
    mods = module_of()
    attempted = failed = 0

    def one_pass(check: bool) -> dict:
        """Every query once. The check pass collects each result; a timed
        pass ends batch queries in a noop-sink write and twins in
        count(), as bench.py times them."""
        nonlocal attempted, failed
        cpu0, py0 = ctx.tree.cpu(), ctx.tree.cpu_split()[1]
        p = {"wall": {}, "build": 0.0, "plan": 0.0, "action": 0.0, "t0": time.time(), "rows": {}}
        for name in order:
            attempted += 1
            twin = name in registry.STREAM_BUILDERS
            with tracer.span(f"operators.{mods[name]}", query=name):
                t0 = time.perf_counter()
                try:
                    with tracer.span("build"):
                        df = (registry.STREAM_BUILDERS[name](spark, tdir) if twin
                              else registry.BUILDERS[name](tables))
                    t1 = time.perf_counter()
                    if traced:
                        with tracer.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.span("action"):
                        if check:
                            p["rows"][name] = ([tuple(r) for r in df.collect()], list(df.columns))
                        elif twin:
                            df.count()
                        else:
                            df.write.mode("overwrite").format("noop").save()
                    t3 = time.perf_counter()
                except Exception as exc:  # one failing query is a failed op, not a crash
                    failed += 1
                    print(f"# {name}: {type(exc).__name__}: {exc}"[:300], flush=True)
                    continue
            p["wall"][name] = t3 - t0
            p["build"] += t1 - t0
            p["plan"] += t2 - t1
            p["action"] += t3 - t2
        p["cpu"] = ctx.tree.cpu() - cpu0
        p["pyworker"] = ctx.tree.cpu_split()[1] - py0
        p["t1"] = time.time()
        return p

    t_check = time.perf_counter()
    with tracer.span("check_pass"):
        checked = one_pass(check=True)
    with tracer.span("warmup_pass"):
        one_pass(check=False)
    check_s = time.perf_counter() - t_check
    rec = _state_recorder(spark) if traced else None
    mem = ctx.memory_sampler()
    passes: list[dict] = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        passes.append(one_pass(check=False))
    peak = mem.stop()

    # correctness, outside the timed region
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tdir}/{t}.parquet')")
    mismatched = []
    for name in order:
        try:
            rows, cols = checked["rows"][name]
            rel = duck.sql(registry.ORACLES[name])
            ok = canon.canonicalize(rows, cols) == canon.canonicalize(rel.fetchall(), list(rel.columns))
        except Exception as exc:
            print(f"# check {name}: {type(exc).__name__}: {exc}"[:300], flush=True)
            ok = False
        if not ok:
            mismatched.append(name)
    failed += len(mismatched)
    duck.close()

    # each query's median over the timed passes; percentiles across the
    # queries (with one twin, both freshness figures are its wall)
    wall = {n: median([p["wall"][n] for p in passes if n in p["wall"]]) for n in order}
    batch = [wall[n] for n in BATCH_SET]
    twins = [wall[n] for n in TWIN_SET]
    e2e = {
        # Spark start, table load (median of three), the cold check pass
        # and the warm-up pass
        "setup_s": ctx.start_s + load_s + check_s,
        "wall_s": sum(wall.values()),
        "cpu_s": median([p["cpu"] for p in passes]),
        "peak_rss_mb": peak,
        "request_p50_ms": 1000 * percentile(batch, 50),
        "request_p90_ms": 1000 * percentile(batch, 90),
        "freshness_p50_s": percentile(twins, 50),
        "freshness_p90_s": percentile(twins, 90),
    }
    info = {
        "passes": len(passes),
        "samples": {"request": f"{len(batch)} queries x {len(passes)} passes",
                    "freshness": f"{len(twins)} queries x {len(passes)} passes"},
        "per_query_s": wall,
        "per_pass": [{"wall": p["wall"], "cpu": p["cpu"]} for p in passes],
        "setup_parts_s": {"spark_start": ctx.start_s, "load_tables": load_s, "check_and_warmup": check_s},
        "mismatched": mismatched,
    }
    out = {"e2e": e2e, "attempted": attempted, "failed": failed, "info": info}
    if traced:
        layer = {f"catalog.{mods[q]}_s": 0.0 for q in order}
        for q, secs in wall.items():
            layer[f"catalog.{mods[q]}_s"] += secs
        n = len(passes)
        layer.update({
            "catalog.build_s": sum(p["build"] for p in passes) / n,
            "catalog.plan_s": sum(p["plan"] for p in passes) / n,
            "catalog.action_s": sum(p["action"] for p in passes) / n,
            "pyworker.cpu_s": sum(p["pyworker"] for p in passes) / n,
        })
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        spark.streams.removeListener(rec)
        # rows and bytes held: each query's largest batch-end state,
        # summed over queries; commit time and drops: summed over batches
        held: dict[str, tuple[float, float]] = {}
        for qid, ops in rec.state:
            rows = sum(o.get("numRowsTotal", 0) for o in ops)
            mem = sum(o.get("memoryUsedBytes", 0) for o in ops)
            r0, m0 = held.get(qid, (0.0, 0.0))
            held[qid] = (max(r0, rows), max(m0, mem))
        ops_all = [o for _, ops in rec.state for o in ops]
        layer.update({
            "state.rows_total": float(sum(r for r, _ in held.values())) / n,
            "state.memory_bytes": float(sum(m for _, m in held.values())) / n,
            "state.commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops_all)) / n,
            "state.rows_dropped_by_watermark": float(
                sum(o.get("numRowsDroppedByWatermark", 0) for o in ops_all)) / n,
        })
        out["layer"] = layer
        out["window"] = (passes[0]["t0"], passes[-1]["t1"])
    return out

"""``warehouse_live`` and the replay leg of its traced run: the ODS →
DWD → DIM → DWS → sink → publisher chain run as one pipeline.

Two legs, each a Structured Streaming query over a directory of
JSON-lines files whose foreachBatch function runs the ``gmall``
transforms and writes through ``sinks.jdbc.parquet_batch_writer``
partitioned by ``cur_date``:

* log leg: ``dwd.split_log`` → ``dws.traffic_page_view_window`` +
  ``dws.keyword_window``;
* trade leg: ``dwd.parse_topic_db`` → ``dim.dim_changes`` /
  ``dim.merge_dim_batch`` → ``dwd.order_detail_star`` →
  ``dws.sku_order_window`` (dims from ``dim.dim_snapshot``) +
  ``dws.province_order_window``.

``run_live`` starts the two legs itself on the default trigger while a
separate process publishes small files at a fixed rate and a probe
thread calls the publisher on a fixed schedule. ``replay_layer`` (traced
runs) drains a backlog through ``pipelines.foreach_batch_pipeline``
(availableNow) and times cumulative prefixes of the chain.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import urllib.request

from common import percentile

SINKS = ("dws_traffic", "dws_keyword", "dws_sku", "dws_province")
DIM_COLS = {
    "dim_sku_info": ["id", "spu_id", "price", "sku_name", "tm_id", "category3_id"],
    "dim_base_trademark": ["id", "tm_name"],
    "dim_base_province": ["id", "name"],
}
#: backlog size of one replay: log events, orders (≈4.9 envelopes each), files per leg
REPLAY_SIZE = (8_000, 1_600, 8)
#: files per availableNow micro-batch in replay: the whole backlog, one batch per leg
REPLAY_FILES_PER_BATCH = REPLAY_SIZE[2]
#: live load: events offered per second (half log events, half CDC
#: envelopes), one file per leg every LIVE_TICK_S, and probe requests
#: per second (BENCHMARK.json's why repeats these)
OFFERED_EVENTS_PER_S = 400
PROBE_RPS = 1
LIVE_TICK_S = 1.0
ENVELOPES_PER_ORDER = 4.9
ROUTES = ("/gmv", "/province", "/ch")


# ---------------------------------------------------------------------------
# the chain
# ---------------------------------------------------------------------------


class Chain:
    """Both legs' per-batch functions over one store directory. Records
    when each batch's sink writes ended, so freshness needs no extra
    work inside the batches; traced runs also count DIM rows."""

    def __init__(self, ctx, store: str):
        from gmall_realtime_ck_spark.gmall import dim
        from gmall_realtime_ck_spark.sinks.jdbc import parquet_batch_writer

        import datagen

        self.spark, self.tracer = ctx.spark, ctx.tracer
        self.traced = ctx.tracer.enabled
        self.dim_store = os.path.join(store, "dim")
        self.cfg = dim.dim_config(self.spark, datagen.DIM_CONFIG_ROWS)
        self.writers = {
            name: parquet_batch_writer(os.path.join(store, name), partition_by=("cur_date",))
            for name in SINKS
        }
        self.batch_end: dict[tuple[str, int], float] = {}
        self.sink_ms: list[float] = []
        self.dim_rewritten = 0

    def log_transform(self, batch_df):
        from gmall_realtime_ck_spark.gmall import dwd, dws

        span = self.tracer.span
        with span("gmall.dwd.split_log"):
            page = dwd.split_log(batch_df)["page"]
        with span("gmall.dws.traffic_page_view_window"):
            traffic = dws.traffic_page_view_window(page)
        with span("gmall.dws.keyword_window"):
            keyword = dws.keyword_window(page)
        return {"dws_traffic": traffic, "dws_keyword": keyword}

    def trade_transform(self, batch_df):
        from gmall_realtime_ck_spark.gmall import dim, dwd, dws

        span = self.tracer.span
        with span("gmall.dwd.parse_topic_db"):
            db = dwd.parse_topic_db(batch_df)
        with span("gmall.dim.merge_dim_batch"):
            changes = dim.dim_changes(db, self.cfg)
            snaps = dim.merge_dim_batch(self.spark, changes, self.dim_store)
        if self.traced:  # footer row counts: no extra Spark job inside the batch
            self.dim_rewritten += sum(parquet_rows(os.path.join(self.dim_store, t)) for t in snaps)
        with span("gmall.dim.dim_snapshot"):
            dims = {
                t: dim.dim_snapshot(self.spark, self.dim_store, t, cols)
                for t, cols in DIM_COLS.items()
                if os.path.isdir(os.path.join(self.dim_store, t))
            }
        with span("gmall.dwd.order_detail_star"):
            star = dwd.order_detail_star(db)
        with span("gmall.dws.sku_order_window"):
            sku = dws.sku_order_window(
                star, {k: v for k, v in dims.items() if k != "dim_base_province"})
        with span("gmall.dws.province_order_window"):
            province = dws.province_order_window(star, dims.get("dim_base_province"))
        return {"dws_sku": sku, "dws_province": province}

    def writer(self, leg: str):
        def write(outputs: dict, batch_id: int) -> None:
            for name, df in outputs.items():
                t0 = time.perf_counter()
                with self.tracer.span("sinks.jdbc.parquet_batch_writer", table=name, batch=batch_id):
                    self.writers[name](df, batch_id)
                self.sink_ms.append(1000 * (time.perf_counter() - t0))
            self.batch_end[(leg, batch_id)] = time.time()

        return write

    def transform(self, leg: str):
        return self.log_transform if leg == "log" else self.trade_transform


def write_inputs(root: str, seed: int, size: tuple[int, int, int]) -> dict[str, int]:
    """Generate both legs' files under ``root/log`` and ``root/trade``;
    returns the line count per leg."""
    import datagen

    log_files, trade_files = datagen.warehouse_files(seed, *size)
    counts = {}
    for leg, files in (("log", log_files), ("trade", trade_files)):
        d = os.path.join(root, leg)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for i, lines in enumerate(files):
            datagen.publish_text(os.path.join(d, f"f{i:05d}.json"), lines)
        counts[leg] = sum(len(f) for f in files)
    return counts


def parquet_rows(path: str) -> int:
    """Rows of a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


def dim_change_lines(trade_dir: str) -> int:
    """CDC envelopes the dim config routes to a dim table (what
    ``dim.dim_changes`` emits over all the files), counted offline."""
    import datagen

    tables = {row[0] for row in datagen.DIM_CONFIG_ROWS}
    n = 0
    for path in glob.glob(os.path.join(trade_dir, "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                env = json.loads(line)
                n += env.get("database") == "gmall" and env.get("table") in tables and bool(env.get("data"))
    return n


def batch_of_files(ckpt: str) -> dict[str, int]:
    """File name → batch id, from the file source's log in the checkpoint."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def drain(ctx, chain: Chain, src_root: str, files_per_batch: int, tag: str) -> dict:
    """One availableNow drain of both legs through foreach_batch_pipeline."""
    from gmall_realtime_ck_spark.streaming.pipelines import foreach_batch_pipeline

    spark = ctx.spark
    cpu0 = ctx.tree.cpu()
    t0 = time.time()
    queries = []
    for leg in ("log", "trade"):
        src = (spark.readStream.format("text")
               .option("maxFilesPerTrigger", files_per_batch)
               .load(os.path.join(src_root, leg)))
        queries.append(foreach_batch_pipeline(
            src, chain.transform(leg), chain.writer(leg), ctx.path("ckpt", tag, leg)))
    errors = 0
    for q in queries:
        q.awaitTermination()
        if q.exception() is not None:
            errors += 1
            print(f"# drain {tag}: {q.exception()}"[:300], flush=True)
    t1 = max(chain.batch_end.values(), default=time.time())
    return {"wall": t1 - t0, "cpu": ctx.tree.cpu() - cpu0,
            "batches": len(chain.batch_end), "errors": errors}


# ---------------------------------------------------------------------------
# publisher and probe
# ---------------------------------------------------------------------------


def make_publisher(ctx, store: str, handle_ms: list, load_ms: list):
    """A PublisherService that re-reads the store with serving.load_dws
    on every request: one built once on load_dws never sees later sink
    files (NOTES.md, gap 1)."""
    from gmall_realtime_ck_spark import serving
    from gmall_realtime_ck_spark.serving_http import PublisherService

    spark, tracer = ctx.spark, ctx.tracer

    class FreshPublisher(PublisherService):
        def __init__(self):
            super().__init__(None, None)

        def handle(self, path, params):
            t0 = time.perf_counter()
            with tracer.span("serving_http.handle", route=path):
                with tracer.span("serving.load_dws"):
                    svc = PublisherService(
                        serving.load_dws(spark, os.path.join(store, "dws_province")),
                        serving.load_dws(spark, os.path.join(store, "dws_traffic")),
                    )
                t1 = time.perf_counter()
                body = svc.handle(path, params)
            load_ms.append(1000 * (t1 - t0))
            handle_ms.append(1000 * (time.perf_counter() - t0))
            return body

    return FreshPublisher()


class Probe:
    """Open-loop HTTP probe: request k is due at start + k / rate, cycles
    through ROUTES and both dates, and is timed from when it was due."""

    def __init__(self, base_url: str, rate: float, dates: list[str]):
        self.base, self.period, self.dates = base_url, 1.0 / rate, dates
        self.samples: list[tuple[str, float]] = []  # (route, round trip ms)
        self.late_ms: list[float] = []
        self.errors = 0
        self._stop = threading.Event()
        self._t: threading.Thread | None = None

    def start(self) -> "Probe":
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()
        return self

    def _loop(self) -> None:
        t0 = time.time()
        k = 0
        while not self._stop.is_set():
            due = t0 + k * self.period
            if self._stop.wait(max(0.0, due - time.time())):
                break
            route = ROUTES[k % len(ROUTES)]
            date = self.dates[(k // len(ROUTES)) % len(self.dates)]
            sent = time.time()
            self.late_ms.append(1000 * (sent - due))
            try:
                with urllib.request.urlopen(f"{self.base}{route}?date={date}", timeout=60) as r:
                    r.read()
                self.samples.append((route, 1000 * (time.time() - due)))
            except Exception as exc:  # a failed request counts as failed, run goes on
                self.errors += 1
                print(f"# probe {route}: {exc}"[:200], flush=True)
            k += 1

    def stop(self) -> None:
        self._stop.set()
        if self._t is not None:
            self._t.join(timeout=120)

    @property
    def attempted(self) -> int:
        return len(self.samples) + self.errors


def get_json(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read())


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def check(ctx, store: str, src_root: str, base_url: str | None = None,
          dates: list[str] = ()) -> list[str]:
    """Names of the checks that failed: each sink re-aggregated by window
    and key (with DuckDB) against the batch gmall.dws functions over the
    same files; with a publisher, /gmv and /province against serving
    over a fresh read and against the batch GMV. uv_ct and /ch values
    stay out (NOTES.md, gap 2)."""
    import duckdb
    from pyspark.sql import functions as F

    from gmall_realtime_ck_spark import serving
    from gmall_realtime_ck_spark.gmall import dim, dwd, dws

    spark = ctx.spark
    page = dwd.split_log(spark.read.text(os.path.join(src_root, "log")))["page"].cache()
    star = dwd.order_detail_star(dwd.parse_topic_db(spark.read.text(os.path.join(src_root, "trade")))).cache()
    sku_dim = dim.dim_snapshot(spark, os.path.join(store, "dim"), "dim_sku_info", DIM_COLS["dim_sku_info"])
    amounts = ["original_amount", "activity_reduce_amount", "coupon_reduce_amount", "order_amount"]
    expect = {
        "dws_traffic": (dws.traffic_page_view_window(page),
                        ["stt", "edt", "vc", "ch", "ar", "is_new"], ["pv_ct", "sv_ct", "dur_sum"]),
        "dws_keyword": (dws.keyword_window(page), ["stt", "edt", "keyword"], ["keyword_count"]),
        "dws_sku": (dws.sku_order_window(star, {"dim_sku_info": sku_dim}),
                    ["stt", "edt", "sku_id"], amounts),
        "dws_province": (dws.province_order_window(star),
                         ["stt", "edt", "province_id"], ["order_amount", "order_count"]),
    }
    failed = []
    oracle_gmv = {}
    duck = duckdb.connect()
    for name, (want, keys, vals) in expect.items():
        agg = want.groupBy(*keys).agg(*[F.sum(v).alias(v) for v in vals])
        exp = {tuple(r[:len(keys)]): tuple(r[len(keys):]) for r in agg.collect()}
        sink = os.path.join(store, name, "*", "*.parquet")
        got = duck.sql(
            f"SELECT {', '.join(keys)}, {', '.join(f'sum({v})' for v in vals)} "
            f"FROM read_parquet('{sink}', hive_partitioning = true) GROUP BY ALL").fetchall()
        if {tuple(r[:len(keys)]): tuple(r[len(keys):]) for r in got} != exp:
            failed.append(name)
        if name == "dws_province":
            for (stt, _, _), (amount, _) in exp.items():
                day = stt[:10]
                oracle_gmv[day] = oracle_gmv.get(day, 0) + amount
    duck.close()
    page.unpersist()
    star.unpersist()
    if base_url is None:
        return failed
    province = serving.load_dws(spark, os.path.join(store, "dws_province"))
    for date in dates:
        gmv = get_json(f"{base_url}/gmv?date={date}")["data"]
        fresh = serving.as_dashboard_json(serving.gmv(province, date))[0]["gmv"]
        if abs(gmv - float(fresh or 0)) > 0.005 or abs(gmv - float(oracle_gmv.get(date, 0))) > 0.005:
            failed.append(f"/gmv {date}")
        got = sorted((r["name"], round(r["value"], 2)) for r in
                     get_json(f"{base_url}/province?date={date}")["data"])
        want = sorted((r["province_name"], round(float(r["total_amount"]), 2)) for r in
                      serving.as_dashboard_json(serving.province_amounts(province, date)))
        if got != want:
            failed.append(f"/province {date}")
    return failed


# ---------------------------------------------------------------------------
# per-layer helpers
# ---------------------------------------------------------------------------


def stream_layer(progress: list[dict]) -> dict:
    def d(key):
        return [p["durationMs"].get(key, 0) for p in progress]

    return {
        "stream.batches": float(len(progress)),
        "stream.rows_per_batch_p50": percentile([p["numInputRows"] for p in progress], 50),
        "stream.trigger_ms_p50": percentile(d("triggerExecution"), 50),
        "stream.trigger_ms_p90": percentile(d("triggerExecution"), 90),
        "stream.planning_ms_p50": percentile(d("queryPlanning"), 50),
        "stream.add_batch_ms_p50": percentile(d("addBatch"), 50),
        "stream.wal_commit_ms_p50": percentile(d("walCommit"), 50),
        "stream.commit_offsets_ms_p50": percentile(d("commitOffsets"), 50),
        "source.latest_offset_ms_p50": percentile(d("latestOffset"), 50),
        "source.get_batch_ms_p50": percentile(d("getBatch"), 50),
    }


def sink_layer(chain: Chain, store: str) -> dict:
    files = glob.glob(os.path.join(store, "dws_*", "*", "*.parquet"))
    size = sum(os.path.getsize(f) for f in files)
    served = [f for f in files if os.sep + "dws_province" + os.sep in f or os.sep + "dws_traffic" + os.sep in f]
    return {
        "sink.write_ms_p50": percentile(chain.sink_ms, 50),
        "sink.write_ms_p90": percentile(chain.sink_ms, 90),
        "sink.files_written": float(len(files)),
        "sink.bytes_written": float(size),
        "sink.files_total": float(len(served)),
    }


def publish_layer(probe: Probe, handle_ms: list, load_ms: list) -> dict:
    by = {r: [ms for route, ms in probe.samples if route == r] for r in ROUTES}
    rtt = [ms for _, ms in probe.samples]
    return {
        "publish.gmv_ms_p50": percentile(by["/gmv"], 50),
        "publish.province_ms_p50": percentile(by["/province"], 50),
        "publish.ch_ms_p50": percentile(by["/ch"], 50),
        "publish.handle_ms_p50": percentile(handle_ms, 50),
        "publish.load_dws_ms_p50": percentile(load_ms, 50),
        "publish.http_overhead_ms_p50": max(0.0, percentile(rtt, 50) - percentile(handle_ms, 50)),
        "probe.late_ms_p90": percentile(probe.late_ms, 90),
    }


def prefix_layer(ctx, src_root: str) -> dict:
    """DWD/DIM/DWS/sink self time from cumulative prefixes of the chain,
    each materialized once in batch over the replay input: a stage's
    self time is its prefix's time minus the prefix before it."""
    from gmall_realtime_ck_spark.gmall import dim, dwd, dws

    import datagen

    spark = ctx.spark
    work = ctx.dir("prefix")

    def t(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def noop(df):
        return lambda: df.write.mode("overwrite").format("noop").save()

    def sink(df, name):
        return lambda: df.write.mode("overwrite").partitionBy("cur_date").parquet(os.path.join(work, name))

    raw_log = spark.read.text(os.path.join(src_root, "log"))
    raw_db = spark.read.text(os.path.join(src_root, "trade"))
    page = lambda: dwd.split_log(raw_log)["page"]  # noqa: E731
    db = lambda: dwd.parse_topic_db(raw_db)  # noqa: E731
    star = lambda: dwd.order_detail_star(db())  # noqa: E731
    cfg = dim.dim_config(spark, datagen.DIM_CONFIG_ROWS)
    store = os.path.join(work, "dim")
    s = {"split": t(noop(page())), "parse": t(noop(db()))}
    s["merge"] = t(lambda: dim.merge_dim_batch(spark, dim.dim_changes(db(), cfg), store))
    dims = {k: dim.dim_snapshot(spark, store, k, c) for k, c in DIM_COLS.items()}
    s["star"] = t(noop(star()))
    outs = {
        "traffic": lambda: dws.traffic_page_view_window(page()),
        "keyword": lambda: dws.keyword_window(page()),
        "sku": lambda: dws.sku_order_window(star(), {k: dims[k] for k in ("dim_sku_info", "dim_base_trademark")}),
        "province": lambda: dws.province_order_window(star(), dims["dim_base_province"]),
    }
    sink_self = 0.0
    for name, build in outs.items():
        s[name] = t(noop(build()))
        sink_self += max(0.0, t(sink(build(), name)) - s[name])
    n_log, n_raw_db = raw_log.count(), raw_db.count()
    n_page, n_db, n_star = page().count(), db().count(), star().count()
    dwd_self = {
        "dwd.split_log_s": s["split"],
        "dwd.parse_topic_db_s": s["parse"],
        "dwd.order_detail_star_s": max(0.0, s["star"] - s["parse"]),
    }
    dws_self = {
        "dws.traffic_page_view_window_s": max(0.0, s["traffic"] - s["split"]),
        "dws.keyword_window_s": max(0.0, s["keyword"] - s["split"]),
        "dws.sku_order_window_s": max(0.0, s["sku"] - s["star"]),
        "dws.province_order_window_s": max(0.0, s["province"] - s["star"]),
    }
    merge_self = max(0.0, s["merge"] - s["parse"])
    # what one drain computes: split twice (two sinks), parse three times
    # (dim + two windows), the star twice, each window and the dim merge once
    covered = (2 * s["split"] + 3 * s["parse"] + 2 * dwd_self["dwd.order_detail_star_s"]
               + sum(dws_self.values()) + merge_self + sink_self)
    return {
        **dwd_self, **dws_self,
        "replay.dim_merge_s": merge_self,
        "sink.self_s": sink_self,
        "chain.covered_s": covered,
        "dwd.split_log_rows_in": float(n_log),
        "dwd.split_log_rows_out": float(n_page),
        "dwd.parse_topic_db_rows_in": float(n_raw_db),
        "dwd.parse_topic_db_rows_out": float(n_db),
        "dwd.order_detail_star_rows_in": float(n_db),
        "dwd.order_detail_star_rows_out": float(n_star),
        "dwd.clean_ratio": (n_page + n_db) / (n_log + n_raw_db),
        "dws.traffic_page_view_window_rows_out": float(outs["traffic"]().count()),
        "dws.keyword_window_rows_out": float(outs["keyword"]().count()),
        "dws.sku_order_window_rows_out": float(outs["sku"]().count()),
        "dws.province_order_window_rows_out": float(outs["province"]().count()),
    }


def _serve(ctx, store):
    from gmall_realtime_ck_spark.serving_http import serve_background

    handle_ms: list[float] = []
    load_ms: list[float] = []
    server, base = serve_background(make_publisher(ctx, store, handle_ms, load_ms))
    return server, base, handle_ms, load_ms


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def replay_layer(ctx) -> dict:
    """The backlog leg of the traced run: one availableNow drain of a
    seeded backlog through foreach_batch_pipeline (one large batch per
    leg, so per-row DWD/DIM/DWS cost dominates and per-batch overhead
    is amortized), its sinks checked against the batch oracle, then the
    cumulative-prefix self times over the same input."""
    backlog = ctx.dir("backlog")
    counts = write_inputs(backlog, ctx.seed, REPLAY_SIZE)
    store = ctx.dir("replay_store")
    chain = Chain(ctx, store)
    with ctx.tracer.span("replay.drain"):
        d = drain(ctx, chain, backlog, REPLAY_FILES_PER_BATCH, "replay")
    failed_checks = check(ctx, store, backlog)
    layer = prefix_layer(ctx, backlog)
    events = sum(counts.values())
    layer.update({
        "replay.drain_s": d["wall"],
        "replay.cpu_s": d["cpu"],
        "replay.events_per_s": events / d["wall"],
        "chain.covered_share": layer["chain.covered_s"] / d["wall"],
    })
    return {"layer": layer, "attempted": d["batches"] + len(SINKS),
            "failed": d["errors"] + len(failed_checks), "failed_checks": failed_checks}


def baseline_local1(ctx) -> dict:
    """One replay drain of the same backlog on local[1]."""
    backlog = ctx.dir("backlog1")
    counts = write_inputs(backlog, ctx.seed, REPLAY_SIZE)
    store = ctx.dir("store_local1")
    d = drain(ctx, Chain(ctx, store), backlog, REPLAY_FILES_PER_BATCH, "local1")
    return {"drain_s": d["wall"], "cpu_s": d["cpu"], "events_per_s": sum(counts.values()) / d["wall"],
            "attempted": d["batches"], "failed": d["errors"]}


def run_live(ctx, traced: bool) -> dict:
    from gmall_realtime_ck_spark.streaming import monitor

    import datagen

    # one generator call covers the warm-up file pair and every tick, so
    # order and detail ids never repeat across files
    n_files = max(2, int(ctx.seconds / LIVE_TICK_S)) + 1
    per_tick = OFFERED_EVENTS_PER_S * LIVE_TICK_S
    size = (int(per_tick / 2 * n_files), int(per_tick / 2 / ENVELOPES_PER_ORDER * n_files), n_files)
    staging = ctx.dir("staging")
    counts = write_inputs(staging, ctx.seed, size)  # the benchmark's own input, not set-up
    marks = [("start", time.perf_counter())]

    spark = ctx.spark
    src_root = ctx.dir("source")
    store = ctx.dir("store")
    chain = Chain(ctx, store)
    rec = monitor.attach(spark)
    queries, ckpts = [], {}
    for leg in ("log", "trade"):
        os.makedirs(os.path.join(src_root, leg), exist_ok=True)
        ckpts[leg] = ctx.path("ckpt", "live", leg)
        transform, write = chain.transform(leg), chain.writer(leg)
        queries.append(
            spark.readStream.format("text").load(os.path.join(src_root, leg))
            .writeStream.foreachBatch(lambda df, b, tr=transform, w=write: w(tr(df), b))
            .option("checkpointLocation", ckpts[leg])
            .start()
        )
    # warm-up: the first file of each leg goes through the live queries
    # before the clock starts, so JIT and codegen are warm and the store
    # exists; it is checked with the rest but not timed
    for leg in ("log", "trade"):
        first = sorted(os.listdir(os.path.join(staging, leg)))[0]
        os.rename(os.path.join(staging, leg, first), os.path.join(src_root, leg, first))
    for q in queries:
        q.processAllAvailable()
    warm_batches = len(chain.batch_end)
    marks.append(("warm", time.perf_counter()))
    # set-up: Spark start plus starting both legs through their first
    # batch, each once per process
    setup_s = ctx.start_s + (marks[-1][1] - marks[-2][1])
    server, base, handle_ms, load_ms = _serve(ctx, store)
    dates = datagen.first_dates()
    manifest = ctx.path("manifest.jsonl")

    mem = ctx.memory_sampler()
    cpu0, py0 = ctx.tree.cpu(), ctx.tree.cpu_split()[1]
    progress0 = len(rec.progress)
    t0 = time.time()
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "livegen.py"),
         staging, src_root, str(LIVE_TICK_S), manifest])
    probe = Probe(base, PROBE_RPS, dates).start()
    try:
        gen.wait(timeout=ctx.seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    errors = 0
    for q in queries:
        try:
            q.processAllAvailable()
        except Exception as exc:  # a dead query fails the run's batches
            errors += 1
            print(f"# live query: {exc}"[:300], flush=True)
    probe.stop()
    t1 = max(chain.batch_end.values())
    cpu = ctx.tree.cpu() - cpu0
    py_cpu = ctx.tree.cpu_split()[1] - py0
    peak = mem.stop()
    for q in queries:
        q.stop()
    progress = list(rec.progress)[progress0:]
    spark.streams.removeListener(rec)

    with open(manifest) as fh:
        published = [json.loads(line) for line in fh]
    fresh_by_file = {}
    for leg in ("log", "trade"):
        batch_of = batch_of_files(ckpts[leg])
        for r in published:
            b = batch_of.get(r["name"]) if r["leg"] == leg else None
            if b is not None and (leg, b) in chain.batch_end:
                fresh_by_file[(leg, r["name"])] = chain.batch_end[(leg, b)] - r["at"]
    missing = len(published) - len(fresh_by_file)
    # a tick's data is on the dashboard once both of its files are: pooled
    # per file, the median would sit in the gap between the fast log leg
    # and the slow trade leg and jump between them from run to run
    fresh_by_tick: dict[str, float] = {}
    for (_, name), secs in fresh_by_file.items():
        fresh_by_tick[name] = max(fresh_by_tick.get(name, 0.0), secs)
    fresh = list(fresh_by_tick.values())

    marks.append(("timed", time.perf_counter()))
    failed_checks = check(ctx, store, src_root, base, dates)
    marks.append(("check", time.perf_counter()))
    server.shutdown()
    server.server_close()

    rtt = [ms for _, ms in probe.samples]
    n_events = sum(counts.values())
    e2e = {
        "setup_s": setup_s,
        "wall_s": sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0,
        "cpu_s": cpu,
        "peak_rss_mb": peak,
        "request_p50_ms": percentile(rtt, 50),
        "request_p90_ms": percentile(rtt, 90),
        "freshness_p50_s": percentile(fresh, 50),
        "freshness_p90_s": percentile(fresh, 90),
    }
    batches = len(chain.batch_end) - warm_batches
    attempted = batches + probe.attempted + len(SINKS) + 2 * len(dates)
    failed = errors + missing + probe.errors + len(failed_checks)
    info = {
        "offered_events_per_s": OFFERED_EVENTS_PER_S, "events": n_events, "run_s": t1 - t0,
        "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        "events_per_s": n_events / (t1 - t0), "batches": batches,
        "samples": {"request": len(rtt), "freshness": len(fresh)},
        "freshness_p50_by_leg_s": {
            leg: percentile([v for (lg, _), v in fresh_by_file.items() if lg == leg], 50)
            for leg in ("log", "trade")},
        "failed_checks": failed_checks, "unmatched_files": missing,
    }
    out = {"e2e": e2e, "attempted": attempted, "failed": failed, "info": info}
    if traced:
        layer = {**stream_layer(progress), **sink_layer(chain, store),
                 **publish_layer(probe, handle_ms, load_ms)}
        layer["gen.late_ms_p90"] = percentile([1000 * (r["at"] - r["due"]) for r in published], 90)
        layer["source.backlog_files_max"] = float(_backlog_max(published, fresh_by_file))
        layer["chain.events_per_s"] = info["events_per_s"]
        layer["dim.merge_s"] = ctx.tracer.total("gmall.dim.merge_dim_batch", since=t0)
        changed = dim_change_lines(os.path.join(src_root, "trade"))
        layer["dim.rows_changed"] = float(changed)
        layer["dim.rows_rewritten"] = float(chain.dim_rewritten)
        layer["dim.write_amplification"] = chain.dim_rewritten / changed
        layer["pyworker.cpu_s"] = py_cpu
        out["layer"] = layer
        out["window"] = (t0, t1)
    return out


def _backlog_max(published: list[dict], fresh_by_file: dict[tuple[str, str], float]) -> int:
    """Largest number of files published but not yet queryable, seen at
    any publish instant."""
    spans = [(r["at"], r["at"] + fresh_by_file[(r["leg"], r["name"])])
             for r in published if (r["leg"], r["name"]) in fresh_by_file]
    return max((sum(1 for a, e in spans if a <= t < e) for t, _ in spans), default=0)

#!/usr/bin/env python
"""Interleaved fixed-subset A/B sample — the decisive bench-comparison
method on this noise-bursting host (r6-r8 lesson: identical code swings
2-7x across minutes, so full-bench wall totals are not comparable
across runs, let alone commits).

One invocation = ONE fresh process timing ONE repo root over a fixed
14-query subset (10 batch noop-sink-timed min-of-2, 4 streaming
min-of-2). To compare two commits, check the old commit out in a git
worktree and ALTERNATE invocations back-to-back, 3+ samples per arm:

    git worktree add /tmp/oldtree <old-sha>
    for i in 1 2 3; do
        python tools/ab_subset.py /tmp/oldtree old_$i
        python tools/ab_subset.py .          new_$i
    done
    git worktree remove /tmp/oldtree

Judge min-of-samples per arm (bursts hit arms at random; the min is
the quiet-window cost). Round-8 calibration: r7 vs r8 HEAD read
32.09 vs 32.82 s min-of-three (ratio 1.02, flat) while individual
samples ranged to 76 s.
"""
import json
import sys
import time

root, tag = sys.argv[1], sys.argv[2]
sys.path.insert(0, root)
from gmall_realtime_ck_spark import registry  # noqa: E402
from gmall_realtime_ck_spark.catalog import load_tables  # noqa: E402
from gmall_realtime_ck_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.1"
BATCH = [
    "xmodal_phash_neardup", "text_langid_ngram", "doc_perplexity_heldout",
    "corpus_card_by_source", "embedding_recall_at_k", "q1_pricing_summary",
    "text_dedup_exact", "text_bigram_topk", "best_parts_per_region",
    "sample_domain_cap",
    # r14 (VERDICT r13 #1): extend to the top-10 cost queries of the
    # r13 map so the round-bracketing A/B covers the expensive paths.
    "corpus_e2e_verdict", "graph_pagerank", "embedding_neardup_pairs",
    "text_neardup_clusters", "embedding_kmeans_assign",
]
# flow_repetition added r12 (it was rewired that round and the fixed
# subset had no coverage of it — its 4× regression would have been
# invisible to this tool). Comparisons across commits remain valid:
# both arms are always timed by the SAME invoking script, so the
# subset definition travels with the newer tree.
STREAM = [
    "flow_funnel", "flow_dsir_gate", "flow_left_outer", "flow_daily_uv",
    "flow_repetition",
    # r14 top-cost flows (VERDICT r13 #1)
    "flow_anomaly_mad", "flow_t_closeness", "flow_bloom_contamination",
]

spark = get_spark(app_name="ab_subset")
spark.sparkContext.setLogLevel("ERROR")
tables = load_tables(spark, SF)
for df in tables.values():
    df.head(1)
registry.BUILDERS["q1_pricing_summary"](tables).write.mode("overwrite").format(
    "noop"
).save()  # untimed warmup

out = {}
for name in BATCH:
    if name not in registry.BUILDERS:
        continue  # subset survives old commits that predate a query
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        registry.BUILDERS[name](tables).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out[name] = round(best, 3)
for name in STREAM:
    if name not in registry.STREAM_BUILDERS:
        continue
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        registry.STREAM_BUILDERS[name](spark, SF).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out[name] = round(best, 3)
print(json.dumps({"tag": tag, "total": round(sum(out.values()), 2), "q": out}))
spark.stop()

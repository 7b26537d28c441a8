"""Deduplication operators over the documents table.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection —
first-class training-data-pipeline operators (BASELINE.json north star),
generalizing the reference's keyed dedup T1
(DWS:trade-sku-order-window/app/DwsTradeSkuOrderWindow.java:196-233).

Everything is pure column algebra (no Python UDFs): md5-based integer
hashing, explode/groupBy pipelines, and self-joins on LSH buckets so the
candidate set — not the n² pair space — drives the cost. At 100 TB the
shuffles are keyed on (band_id, band_signature), which is
high-cardinality and naturally balanced. The LSH shingle size is 2
(word bigrams): on this corpus 1-gram token sets are degenerate (shared
small vocabulary ⇒ ~half of all pairs collide), while 3-grams collide
never — bigrams give a bounded, meaningful candidate set that stays
sub-quadratic as the corpus grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import (
    H28_DUCK,
    H28_SPARK,
    H60_DUCK,
    H60_SPARK,
    TOKENS_DUCK,
    TOKENS_SPARK,
    shingles_from_tokens,
)

MOD_P = 1000000007

#: Fixed MinHash coefficients (seed 42): h_i = (a*h + b) mod MOD_P with
#: h a 28-bit shingle hash, so a*h < 2^58 never overflows int64.
MINHASH_COEFFS = [
    (686579304, 119540831),
    (26855093, 796233790),
    (295310486, 262950628),
    (239670712, 149827706),
    (790779947, 110053353),
    (726600540, 795285932),
    (957970517, 585582861),
    (93349857, 634036506),
    (453035111, 34126396),
    (31994524, 100604502),
    (234760739, 249817734),
    (542621109, 646412689),
    (28492781, 602632297),
    (213500299, 768820204),
    (697808099, 753041955),
    (585126462, 450455977),
]
N_HASHES = len(MINHASH_COEFFS)
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

SHINGLE_K = 2
SIMHASH_BITS = 60  # stay clear of the int64 sign bit


def shingles_duck(tk: str, k: int = SHINGLE_K) -> str:
    """DuckDB fragment over a token-list expression ``tk``."""
    return (
        f"CASE WHEN len({tk}) >= {k} THEN "
        f"list_transform(range(1, len({tk}) - {k - 2}), i -> array_to_string(({tk})[i:i+{k - 1}], ' ')) "
        f"ELSE [] END"
    )


def dedup_exact(t: dict[str, DataFrame]) -> DataFrame:
    """Exact dedup by content hash with keep-first-by-id policy.

    Scale: ``is_dup`` is ``doc_id > min(doc_id) per hash`` — computed
    as a keyed MIN aggregate (map-side combine) joined back on the
    same key, NOT a row_number window over the hash group: a
    pathological cluster (billions of empty/identical pages share one
    md5) collapses to one row per partition before the shuffle instead
    of sort-funneling through a single reducer (r8 coarse-key window
    sweep; same posture as ``dedup_keep_best``). Both shuffles key on
    ``h``, so the join is co-partitioned.
    """
    docs = t["documents"]
    hashed = docs.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("h"))
    firsts = hashed.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    return hashed.join(firsts, "h").select(
        "doc_id", (F.col("doc_id") > F.col("first_id")).cast("bigint").alias("is_dup")
    )


def dedup_keep_best(t: dict[str, DataFrame]) -> DataFrame:
    """Exact dedup with keep-BEST policy: inside each content-hash
    group, keep the highest-quality representative (here: longest
    text, tie-break lowest doc_id) instead of the first-seen row —
    the selection CCNet-style pipelines apply so the canonical copy is
    the least-truncated crawl of a page.

    Scale: argmin over min(struct(-len, doc_id)) is a partial-aggregate
    (map-side combine), so a pathological hash group with millions of
    identical docs never funnels through one task the way a
    row_number window over the group would; the join back is keyed on
    the same hash — two shuffles total, both on ``h``, and AQE can
    coalesce them.
    """
    docs = t["documents"]
    hashed = docs.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("h"),
        F.length("text").cast("long").alias("n_len"),
    )
    best = (
        hashed.groupBy("h")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_len")).alias("neg_len"),
                    F.col("doc_id").alias("best_id"),
                )
            ).alias("b"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("h", F.col("b.best_id").alias("best_id"), "n_dups")
    )
    return (
        hashed.join(best, "h")
        .select(
            "doc_id",
            "h",
            "n_dups",
            (F.col("doc_id") == F.col("best_id")).cast("bigint").alias("is_kept"),
        )
    )


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct rows — shared by minhash + jaccard.
    Tokens are materialized as a column first so the shingle HOF doesn't
    re-run the tokenizer per element (see text.shingles_from_tokens).
    """
    tokenized = docs.select("doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    return tokenized.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(shingles_from_tokens("tk", SHINGLE_K)))).alias("s"),
    )


def _minhash_signatures(docs: DataFrame, sh_sets: DataFrame | None = None) -> DataFrame:
    """doc_id → 16 minhash values over the distinct shingle set.
    One explode + one groupBy(doc_id) shuffle. Pass a pre-materialized
    ``sh_sets`` to share the shingle pipeline with other consumers.
    """
    h = F.expr(H28_SPARK.format(c="s"))
    exploded = (sh_sets if sh_sets is not None else _shingle_sets(docs)).withColumn("h", h)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MOD_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def _neardup_chain(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared spine of every near-dup query: materialized distinct
    shingle rows, materialized minhash signatures, and the LSH candidate
    pair set. The shingle explode + md5 pipeline is the dominant cost of
    the whole family (it feeds sigs AND both exact-verify legs AND the
    size table), so it is computed ONCE and localCheckpoint'd — r2's
    chain recomputed it up to 4x per query (BENCH r2 text_* regressions).
    Checkpoint sizes: shingles = |distinct doc shingles| rows of
    (long, short string); sigs = n_docs x 17 ints — both linear in the
    corpus, never pairwise.
    """
    sh_sets = _shingle_sets(docs).localCheckpoint()
    sigs = _minhash_signatures(docs, sh_sets).localCheckpoint()
    buckets = _band_buckets(sigs)
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # r13: pinned like the other two spine frames — every verify
        # consumer references the candidate set from ≥2 plan positions
        # (the intersection leg and the final assembly join), and each
        # Catalyst plan copy re-ran the banded self-join + distinct.
        # The frame is the LSH candidate set — bounded by design, far
        # smaller than the shingle table already checkpointed above.
        .localCheckpoint()
    )
    return sh_sets, sigs, pairs


def _band_buckets(sigs: DataFrame) -> DataFrame:
    """Signatures → (band_id, band_key, doc_id) LSH bucket rows."""
    bands = []
    for b in range(N_BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = F.concat_ws("_", *[F.col(c).cast("string") for c in cols])
        bands.append(sigs.select(F.lit(b).alias("band_id"), key.alias("band_key"), "doc_id"))
    out = bands[0]
    for b in bands[1:]:
        out = out.unionAll(b)
    return out


def minhash_lsh_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """MinHash + banded LSH candidate pairs with their estimated
    Jaccard (matching signature positions out of 16). Candidates come
    only from shared band buckets — the scale path: the self-join is on
    (band_id, band_key), never all-pairs.
    """
    docs = t["documents"]
    _, sigs, pairs = _neardup_chain(docs)
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    matches = sum(
        (F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("bigint") for i in range(N_HASHES)
    )
    return (
        pairs.join(sa, pairs.doc_a == F.col("sa.doc_id"))
        .join(sb, pairs.doc_b == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", matches.alias("sig_matches"))
    )


#: per-task cap on the ``md5_bits_memo`` entries (~700 bytes each ⇒
#: ~45 MB ceiling per task). Natural text holds a few tens of
#: thousands of distinct tokens or byte 4-grams, so the cap is never
#: hit there; it exists for adversarial/binary-ish or CJK payloads
#: whose key space is up to 2^32 at 100 TB. Pure memoization — any cap
#: value (including 0 = effectively disabled) yields identical
#: fingerprints (law-pinned in tests/test_multimodal.py). Builders
#: read it at BUILD time, so patching it before building takes effect.
MD5_BITS_CACHE_CAP = 1 << 16


def md5_bits_memo(cap: int):
    """Worker-side memo of key → (60,) int64 bit vector of the H60
    hash (md5[:15] as an integer — the same value as H60_SPARK /
    H60_DUCK), shared by the simhash and phash fingerprints. ``str``
    keys hash their utf-8 bytes, ``bytes`` keys hash as-is. BOUNDED:
    past ``cap`` entries the memo is cleared wholesale (no LRU
    bookkeeping on the hot path) — md5 values are recomputed, never
    changed. Call it once per task, inside the Arrow map function."""
    import hashlib

    import numpy as np

    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
    cache: dict = {}

    def bits_for(key) -> np.ndarray:
        v = cache.get(key)
        if v is None:
            raw = key.encode("utf-8") if isinstance(key, str) else key
            v = (int(hashlib.md5(raw).hexdigest()[:15], 16) >> shifts) & 1
            if len(cache) >= cap:
                cache.clear()
            cache[key] = v
        return v

    return bits_for


def simhash_docs(t: dict[str, DataFrame]) -> DataFrame:
    """60-bit SimHash per document over its token multiset: per bit,
    majority vote of token-hash bits (ties → 0 to keep both engines
    exact).

    r14 rewrite (guide §4.2, the xmodal_phash fingerprint template):
    the token explode + md5-per-OCCURRENCE + 60 CASE-sum aggregates
    (one JVM row and one md5 per token of the corpus, the whole token
    stream flowing into a 60-buffer keyed aggregate) becomes ONE
    map-only Arrow pass — tokens stay the JVM tokenizer's output (the
    array column crosses Arrow, so there is no Python re-tokenization
    to drift), each doc's multiset folds to (unique token, count) in
    numpy, md5 runs once per DISTINCT token (memoized across docs
    within a task, bounded), and the votes are one counts @ bits int64
    matvec. BIT-IDENTICAL: H60 is the same md5[:15] integer over the
    same utf-8 bytes, votes_j = 2·ones_j − n is the ±1 CASE-sum
    verbatim, and the v > 0 majority rule (ties → 0) is unchanged.
    The fingerprint stage now shuffles NOTHING — 8 bytes/doc leave the
    scan (the §8 "move heavy bytes once" posture); zero-token docs
    drop exactly as the explode dropped them.
    """
    docs = t["documents"]
    cache_cap = MD5_BITS_CACHE_CAP

    def fingerprint(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        bits_for = md5_bits_memo(cache_cap)

        for pdf in batches:
            out_ids, out_sh = [], []
            for doc_id, tk in zip(pdf["doc_id"], pdf["tk"]):
                # NULL/empty token arrays drop exactly as explode did
                n = 0 if tk is None else len(tk)
                if n == 0:
                    continue
                uniq, cts = np.unique(np.asarray(tk, dtype=object), return_counts=True)
                bits = np.stack([bits_for(tok) for tok in uniq])
                ones = cts.astype(np.int64) @ bits  # (60,) ones-counters
                sh_bits = (2 * ones > n).astype(np.int64)  # v_j = 2·ones_j − n > 0
                out_ids.append(doc_id)
                out_sh.append(int((sh_bits << shifts).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_ids, dtype="int64"),
                    "simhash": pd.Series(out_sh, dtype="int64"),
                }
            )

    tokenized = docs.select(
        "doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    )
    return tokenized.mapInPandas(fingerprint, "doc_id long, simhash long")


#: SimHash banding: 4 bands × 15 bits; pairs within this Hamming radius
#: are reported. Pigeonhole: any pair with ≤ 3 differing bits shares at
#: least one intact band, so the banded candidate join is LOSSLESS for
#: radius ≤ 3 (and high-recall well past it — differing bits must land
#: in ≥ SIMHASH_PAIR_HAMMING_MAX/4 distinct bands to escape).
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
SIMHASH_PAIR_HAMMING_MAX = 12


def simhash_hamming_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """SimHash near-dup pair search (Manku/Google WWW'07): candidate
    pairs share one of 4 exact 15-bit bands of their 60-bit simhash
    (the pigeonhole trick — NO pairwise scan), verified by popcount of
    the XOR. Integer-exact end to end (``bit_count`` on both engines);
    complements the MinHash family: simhash catches multiset-level
    similarity at fingerprint size O(1) per doc, so the banded index
    is 8 bytes/doc regardless of document length.

    Scale: the self-join keys on (band, 15-bit value) — at 100 TB the
    fingerprint+band table is a few GB per billion docs and the join is
    an ordinary keyed hash join; bucket-write it on the band key and
    incremental batches probe it exchange-free (the incremental_neardup
    posture at 1/16th the per-doc index size).
    """
    # materialize fingerprints ONCE: the banded self-join consumes the
    # simhash frame on both sides, and without this the 60-aggregate
    # vote pipeline executes twice (measured ~5.3 s → ~2.9 s at sf0.1)
    sim = simhash_docs(t).localCheckpoint()
    bands = []
    for b in range(SIMHASH_BANDS):
        key = F.expr(
            f"(simhash >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}"
        )
        bands.append(
            sim.select(F.lit(b).alias("band"), key.alias("bkey"), "doc_id", "simhash")
        )
    buckets = bands[0]
    for b in bands[1:]:
        buckets = buckets.unionAll(b)
    a = buckets.alias("a")
    bb = buckets.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)").cast("bigint"))
        .filter(F.col("hamming") <= SIMHASH_PAIR_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    t: dict[str, DataFrame],
    chain: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for the LSH candidate pairs: the
    verify step of the dedup pipeline (candidates from the LSH bucket
    join, exact |A∩B| via an equi-join on shingle,
    |A∪B| = |A|+|B|-|A∩B|). Output scaled to permille via a single
    integer-ratio division. Callers composing further steps pass their
    ``_neardup_chain`` so the shingle/sig materializations are shared.
    """
    docs = t["documents"]
    sh_sets, _, cand = chain if chain is not None else _neardup_chain(docs)
    sizes = sh_sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = sh_sets.alias("ta")
    tb = sh_sets.alias("tb")
    inter = (
        cand.join(ta, cand.doc_a == F.col("ta.doc_id"))
        .join(tb, (cand.doc_b == F.col("tb.doc_id")) & (F.col("ta.s") == F.col("tb.s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_ct"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, cand.doc_a == F.col("na.doc_id"))
        .join(nb, cand.doc_b == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("inter_ct", F.lit(0)).alias("inter_ct"),
            (F.col("na.n") + F.col("nb.n") - F.coalesce("inter_ct", F.lit(0))).alias("union_ct"),
        )
        .withColumn("jaccard_permille", F.expr("(inter_ct * 1000) DIV union_ct"))
    )


def ngram_novelty(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document n-gram NOVELTY: the permille of a doc's distinct
    shingles that no lower-id document contains — the marginal-
    contribution score behind data-curriculum ordering and diversity-
    aware subset selection (a doc of entirely re-seen shingles scores
    0 even if no single pair crosses a near-dup threshold). Processing
    order is doc_id (the stable ingest order the drop-list policies
    already use).

    Scale: ONE aggregate finds each shingle's first-seen doc (min
    doc_id keyed on the shingle — map-side combinable), joined back to
    the doc's shingle rows on the same shingle key, then a doc-keyed
    count. No pairwise anything: cost is linear in total shingle rows,
    unlike the pair-verify family.
    """
    docs = t["documents"]
    sh = _shingle_sets(docs)
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    scored = (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("bigint")).alias(
                "novel_shingles"
            ),
        )
    )
    return scored.select(
        "doc_id",
        "n_shingles",
        "novel_shingles",
        F.expr("(novel_shingles * 1000) DIV n_shingles").alias("novelty_permille"),
    )


def novelty_decay_curve(t: dict[str, DataFrame]) -> DataFrame:
    """Novelty decay over ingest order: bucket documents into ingest
    deciles (NTILE over doc_id) and report mean n-gram novelty per
    decile — the curve that quantifies how fast a crawl's marginal
    contribution falls (flat ⇒ keep crawling; cliff ⇒ the source is
    mined out). Pure composition of ``ngram_novelty`` with a decile
    rollup.

    Scale: the earlier form ran ``ntile(10)`` over the |docs|-row
    novelty output through ONE unpartitioned window — and ntile, unlike
    ``row_number() <= k``, has no WindowGroupLimit pushdown, so every
    document row sorted through a single reducer (the last
    corpus-sized global-sort site in the repo). The decile is now the
    exact NTILE closed form over a DISTRIBUTED global rank:
    ``prefix_sum_per_key`` with no key ranks doc_ids via ~4096-row
    within-bucket windows plus a |buckets|-row offset pass, and with
    ``N`` docs, ``q = N div 10``, ``m = N mod 10``, ntile gives the
    first ``m`` deciles ``q+1`` rows and the rest ``q`` — identical
    bucket-for-bucket to the window form (pinned by
    tests/test_invariants_new.py::test_ntile_closed_form_equals_window).
    The bucket width derives from the raw documents scan's
    (min, max, count) so the expensive novelty plan is never re-run
    for stats; ``N`` rides a 1-row broadcast count aggregate.
    """
    from .relational import ntile_expr, prefix_sum_per_key

    docs = t["documents"]
    lo, hi, n = docs.agg(
        F.min("doc_id"), F.max("doc_id"), F.count(F.lit(1))
    ).first()
    span = max(int(hi) - int(lo) + 1, 1) if n else 1
    width = max(1, min(span, span * 4096 // max(int(n or 0), 1)))
    # r13: pin the novelty table ONCE — the prefix-sum rank references
    # it from ~3 plan positions (bucket leg, offset leg, their join)
    # and n_tot is a 4th, and Catalyst inlines each reference as a
    # plan-tree copy, so the whole shingle→first-seen→rollup plan
    # re-executed ~4× (census: 11 shuffle Exchanges in the emit plan).
    # |docs| rows of counters — linear and bounded.
    nov = ngram_novelty(t).withColumn("_one", F.lit(1).cast("bigint")).localCheckpoint()
    ranked = prefix_sum_per_key(
        nov, [], "doc_id", "_one", "rank", bucket_size=width
    ).drop("_one")
    n_tot = nov.agg(F.count(F.lit(1)).alias("n_total"))
    tiled = ranked.crossJoin(F.broadcast(n_tot)).withColumn(
        "decile", ntile_expr("rank", "n_total", 10)
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("novel_shingles").alias("novel_shingles"),
        F.sum("n_shingles").alias("n_shingles"),
        F.expr(
            "cast((sum(novel_shingles) * 1000) DIV sum(n_shingles) as bigint)"
        ).alias("novelty_permille"),
    )


def source_minhash_jaccard(t: dict[str, DataFrame]) -> DataFrame:
    """Approximate cross-source overlap via re-aggregatable MinHash
    sketches — the sketch counterpart of ``source_overlap`` (exact
    shingle intersection). Each source's 16-value MinHash signature is
    a mergeable aggregate (min per hash fn over its distinct shingle
    set), so at 100 TB the whole corpus collapses to |sources| × 16
    ints in ONE keyed shuffle with map-side partial mins — no
    shingle-keyed self-join, no |shared-shingles|-sized intermediate.
    The |sources|² pairwise comparison then runs over the tiny sketch
    table. Matching positions / 16 estimates Jaccard(source_a,
    source_b) (Broder 1997); the same estimator the per-doc LSH path
    uses, lifted to the source level. Generalizes the reference's
    keyed-set distinct aggregation (DWS
    DwsTradeProvinceOrderWindow.java order-id set union) into a
    bounded-size sketch.
    """
    docs = t["documents"]
    tokenized = docs.select("source", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    # No cross-doc `.distinct()` (r14, guide §2.4): `min` is
    # duplicate-idempotent, so the per-source signature over doc-level
    # distinct shingles (array_distinct above) equals the signature
    # over source-level distinct shingles EXACTLY. Plan-neutral in
    # practice — Spark's RemoveRedundantAggregates had already
    # eliminated the distinct below the duplicate-insensitive min
    # (verified: before/after plans identical, A/B flat) — the
    # explicit form just stops relying on the optimizer rule. (The
    # DuckDB oracle keeps the distinct form — same value by the
    # idempotence argument, hash-verified.)
    sh = tokenized.select(
        "source",
        F.explode(F.array_distinct(F.expr(shingles_from_tokens("tk", SHINGLE_K)))).alias("s"),
    )
    hashed = sh.withColumn("h", F.expr(H28_SPARK.format(c="s")))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MOD_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    # pinned ONCE (r14): the |sources|² pairwise compare below is a
    # self-join, and Catalyst inlines each side as a plan-tree COPY —
    # the whole tokenize→shingle→md5→16-min pipeline ran TWICE per
    # execution (both legs visible in the before plan). The signature
    # table is |sources| × 17 ints — broadcast-sized by construction.
    sigs = hashed.groupBy("source").agg(*aggs).localCheckpoint()
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    matches = sum(
        (F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("bigint") for i in range(N_HASHES)
    )
    return (
        sa.join(sb, F.col("sa.source") < F.col("sb.source"))
        .select(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
            matches.alias("sig_matches"),
            F.round(matches / F.lit(float(N_HASHES)), 6).alias("est_jaccard"),
        )
    )


def containment_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Asymmetric shingle containment for the LSH candidate pairs:
    |A∩B|·1000 ÷ |A| and ÷ |B| — the measure that catches a document
    QUOTED INSIDE a larger one (a boilerplate wrapper, a re-post with
    commentary), which symmetric Jaccard dilutes toward 0 as the host
    grows. The asymmetric complement of ``ngram_jaccard_pairs``; same
    verify posture (exact set intersection, but only over LSH
    candidates — never all-pairs), same integer-permille rendering.

    Scale: identical to the Jaccard verify — the intersection join is
    keyed on (candidate pair ⋈ shingle), so cost is Σ shingles over
    candidate docs, linear in the candidate set.
    """
    docs = t["documents"]
    sh_sets, _, cand = _neardup_chain(docs)
    sizes = sh_sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = sh_sets.alias("ta")
    tb = sh_sets.alias("tb")
    inter = (
        cand.join(ta, cand.doc_a == F.col("ta.doc_id"))
        .join(tb, (cand.doc_b == F.col("tb.doc_id")) & (F.col("ta.s") == F.col("tb.s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_ct"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, cand.doc_a == F.col("na.doc_id"))
        .join(nb, cand.doc_b == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("inter_ct", F.lit(0)).alias("inter_ct"),
            F.expr("(coalesce(inter_ct, 0) * 1000) DIV na.n").alias("contain_a_permille"),
            F.expr("(coalesce(inter_ct, 0) * 1000) DIV nb.n").alias("contain_b_permille"),
        )
    )


#: incoming docs need ≥ this many matching signature positions (of 16)
#: against a corpus doc to be flagged as an incremental near-dup
INCR_SIG_THRESHOLD = 6


def incremental_neardup(t: dict[str, DataFrame]) -> DataFrame:
    """Per-batch NEAR-dup admission against the existing corpus — the
    approximate complement of ``incremental_dedup``'s exact-hash check
    and the full incremental-ingest story: an incoming doc (doc_id ≡ 0
    mod 10) is flagged if it shares an LSH band bucket with any
    already-accepted doc AND ≥ 6/16 minhash positions agree (estimated
    Jaccard ≳ 0.4). Emits one verdict row per incoming doc with its
    best corpus match.

    Scale: this is the INDEXED shape — in production the corpus side's
    (band_key → doc) postings and signatures are a PERSISTED index
    (bucket-written on band_key), so each batch joins only its own
    band keys against the index: per-batch cost is O(batch) probes,
    never a corpus self-join, and the index grows append-only as
    batches are admitted. Here both sides derive from one table; the
    join topology is identical.
    """
    docs = t["documents"]
    sh_sets = _shingle_sets(docs).localCheckpoint()
    sigs = _minhash_signatures(docs, sh_sets).localCheckpoint()
    buckets = _band_buckets(sigs)
    is_incoming = F.col("doc_id") % INCR_MOD == 0
    inc_b = buckets.filter(is_incoming).alias("a")
    corp_b = buckets.filter(~is_incoming).alias("b")
    cand = (
        inc_b.join(
            corp_b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("corpus_id"))
        .distinct()
    )
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    matches = sum(
        (F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("bigint") for i in range(N_HASHES)
    )
    scored = (
        cand.alias("c")
        .join(sa, F.col("c.doc_id") == F.col("sa.doc_id"))
        .join(sb, F.col("c.corpus_id") == F.col("sb.doc_id"))
        .select(
            F.col("c.doc_id").alias("doc_id"),
            F.col("c.corpus_id").alias("corpus_id"),
            matches.alias("sig_matches"),
        )
        .filter(F.col("sig_matches") >= INCR_SIG_THRESHOLD)
    )
    best = scored.groupBy("doc_id").agg(
        F.expr("max_by(struct(corpus_id), struct(sig_matches, -corpus_id)).corpus_id").alias(
            "best_match"
        ),
        F.max("sig_matches").alias("best_sig_matches"),
    )
    incoming = docs.filter(is_incoming).select("doc_id")
    return (
        incoming.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("best_match", F.lit(-1)).alias("best_match"),
            F.coalesce("best_sig_matches", F.lit(0)).alias("best_sig_matches"),
            F.col("best_match").isNotNull().cast("bigint").alias("is_neardup"),
        )
    )


def levenshtein_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Edit-distance verify for the LSH candidate pairs: exact
    Levenshtein distance plus a permille normalization by the longer
    text — the character-level complement of the shingle-set measures
    (catches dense small edits that leave most shingles intact, and is
    the dedup criterion used by code-dedup pipelines where token order
    is load-bearing). JVM-side `levenshtein` on both engines, integer-
    exact.

    Scale: O(|a|·|b|) per pair is the expensive verify — which is
    exactly why it runs ONLY on the LSH candidate set (a join of the
    candidate pairs back to the two text columns, linear in
    candidates), never all-pairs; the cheap signature/LSH stages have
    already paid for its selectivity.
    """
    docs = t["documents"]
    _, _, cand = _neardup_chain(docs)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    # ONE levenshtein evaluation per pair (r14): the old projection
    # computed the O(|a|·|b|) distance twice (once for edit_dist, once
    # inside the permille) and codegen subexpression elimination did
    # NOT rescue it (measured 3.13 → 2.67 s at sf0.1). edit_dist is a
    # multi-reference non-cheap alias, so CollapseProject keeps the
    # two-step projection and the distance provably evaluates once.
    step = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").cast("bigint").alias("edit_dist"),
            F.greatest(F.length("text_a"), F.length("text_b")).alias("_mx"),
        )
    )
    return step.select(
        "doc_a",
        "doc_b",
        "edit_dist",
        F.expr("cast(edit_dist * 1000 DIV _mx as bigint)").alias("dist_permille"),
    )


def neardup_drop_list(t: dict[str, DataFrame], threshold_permille: int = 300) -> DataFrame:
    """The dedup pipeline's decision step: docs to DROP = any doc that
    near-duplicates (verified Jaccard ≥ threshold) a lower-id doc —
    greedy keep-lowest-id policy. End-to-end: shingle → MinHash → LSH
    candidates → exact-Jaccard verify → drop set. (Full transitive
    clustering would use iterative min-id propagation; greedy drop is
    the standard one-pass policy and is what C4-style pipelines ship.)
    """
    pairs = ngram_jaccard_pairs(t)
    confirmed = pairs.filter(F.col("jaccard_permille") >= threshold_permille)
    drops = confirmed.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        t["documents"].select("doc_id")
        .join(drops.withColumn("drop", F.lit(1)), "doc_id", "left")
        .select("doc_id", F.coalesce("drop", F.lit(0)).cast("bigint").alias("is_drop"))
    )


def neardup_clusters(t: dict[str, DataFrame], threshold_permille: int = 300,
                     max_iters: int = 64) -> DataFrame:
    """Transitive dedup clusters via iterative min-id label propagation
    over the verified near-dup graph: each doc's cluster id converges
    to the smallest doc_id reachable through near-dup edges. The
    iterative-algorithm pattern on DataFrames (each pass = one join +
    groupBy-min; localCheckpoint truncates the lineage so plans don't
    grow).

    Hash-oracled since r5: the loop runs TO FIXPOINT (the break below;
    max_iters=64 is a diameter backstop, near-dup components are
    shallow), and the fixpoint of min-label propagation is exactly
    connected components labeled by component-min doc_id — which a
    DuckDB recursive CTE over the same LSH-verified edge set computes
    in closed form. Iteration count no longer affects the result, only
    the wall clock (≤ graph diameter + 1 passes).

    Scale: each pass is one keyed join + min-agg over the edge list
    (linear; r8 tail probe ×10→×16 measured the CC delta a minority
    share of the chain at local exponent ~1.3 — iteration count creeps
    with component diameter). If a corpus's dup components ever grow
    long chains, swap the per-pass neighbor-min for large-star/
    small-star rounds (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"): same fixpoint, O(log²) rounds, drop-in
    here because only the per-iteration update rule changes.
    """
    pairs = (
        ngram_jaccard_pairs(t)
        .filter(F.col("jaccard_permille") >= threshold_permille)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    # undirected edge list (both directions) + self edges
    edges = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = t["documents"].select(
        F.col("doc_id"), F.col("doc_id").alias("cluster_id")
    ).localCheckpoint()
    for _ in range(max_iters):
        # each node adopts the min label among itself and its neighbors
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
            # EAGER on purpose (a lazy pin was tried in r13 and
            # REVERTED): the first consumer is the limit(1) convergence
            # probe, which short-circuits after one changed row — a
            # lazy checkpoint would leave most partitions
            # unmaterialized, so the next iteration's pass recomputes
            # them through the old lineage and the plan compounds
            # across iterations (A/B read ~1.7× slower lazy).
            .localCheckpoint()
        )
        if (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
            == 0
        ):
            return new_labels
        labels = new_labels
    # The hash oracle (recursive-CTE connected components) assumes the
    # FIXPOINT was reached; returning partially propagated labels here
    # would surface as an inexplicable red driver row. Fail loudly —
    # a component with min-label eccentricity > max_iters needs the
    # backstop raised (or a doubling-style CC algorithm), not silence.
    raise RuntimeError(
        f"neardup_clusters did not converge within max_iters={max_iters}; "
        "labels are not a fixpoint and would diverge from the "
        "connected-components oracle"
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOKS_D = TOKENS_DUCK.format(c="text")
_SH_D = shingles_duck("tk")
_H28_D = H28_DUCK.format(c="s")
#: incremental-dedup batch split: docs with doc_id ≡ 0 (mod 10) play the
#: incoming ingest batch; the rest are the already-accepted corpus.
INCR_MOD = 10


def incremental_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Snapshot-incremental exact dedup — the shape every ingest
    pipeline runs per batch: an incoming slice is admitted only if its
    content hash is (a) absent from the already-accepted corpus and
    (b) first within its own batch (keep-lowest-id). Emits the batch
    verdict per incoming doc: ``accept`` = 1 iff both hold.

    Scale: ONE hash key drives everything — first-within-batch is a
    keyed MIN aggregate joined back on md5 (map-side combine; a
    row_number window would sort a pathological dup cluster through
    one reducer — r8 coarse-key window sweep), and the corpus check is
    a LEFT ANTI-shaped mark join on the same md5 key, so a production
    run that bucket-writes the accepted-corpus hash manifest by this
    key (layout.write_bucketed) makes the batch join exchange-free on
    the corpus side. The corpus is never broadcast and never
    collected; only the (typically small) incoming batch re-shuffles.
    """
    docs = t["documents"].select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("h")
    )
    incoming = docs.filter(F.col("doc_id") % INCR_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % INCR_MOD != 0)
    batch_firsts = incoming.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    known = corpus.select("h").distinct().withColumn("known", F.lit(1))
    return (
        incoming.join(batch_firsts, "h")
        .join(known, "h", "left")
        .select(
            "doc_id",
            "h",
            ((F.col("doc_id") == F.col("first_id")) & F.col("known").isNull())
            .cast("bigint")
            .alias("accept"),
        )
    )


#: repeated-line removal: fixed non-overlapping token-block size. 8
#: tokens ≈ a boilerplate "line" on this flat word-stream corpus (the
#: driver documents carry no newlines); real corpora would split on
#: '\n' first and fall back to fixed blocks for unstructured text.
LINE_TOKENS = 8


def line_blocks(docs: DataFrame) -> DataFrame:
    """Explode every document into its non-overlapping LINE_TOKENS-token
    blocks — the unit of repeated-line (boilerplate) removal. Emits
    (doc_id, pos, ntok, btxt, bh): 1-based token position, block token
    count, block text, md5 block key. Shared by the batch
    ``text_line_dedup`` and the ``flow_dup_lines`` blacklist twin.
    Pure column algebra (tokenize once, slice per start offset inside
    a transform) — whole-stage codegen until the explode, fan-out
    ceil(tokens/LINE_TOKENS) rows per doc."""
    tk0 = docs.select(
        "doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    ).filter(F.size("tk") > 0)
    return tk0.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk), {LINE_TOKENS}), "
                f"s -> struct(s AS pos, size(slice(tk, s, {LINE_TOKENS})) AS ntok, "
                f"array_join(slice(tk, s, {LINE_TOKENS}), ' ') AS btxt))"
            )
        ).alias("b"),
    ).select(
        "doc_id",
        F.col("b.pos").cast("bigint").alias("pos"),
        F.col("b.ntok").cast("bigint").alias("ntok"),
        F.col("b.btxt").alias("btxt"),
        F.md5("b.btxt").alias("bh"),
    )


def line_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus-level repeated-line removal (RefinedWeb/CCNet line dedup
    — Penedo et al. 2023 §3.3, the filter that strips navigation
    boilerplate repeated across pages): split every doc into
    non-overlapping LINE_TOKENS-token blocks, count each block's
    occurrences ACROSS the corpus, drop every instance of any block
    occurring more than once, and reassemble the surviving text in
    position order. Emits the per-doc cleaning verdict: block counts,
    dropped counts, surviving token count, and the md5 of the
    reassembled text (the scalar the hash gate can compare; downstream
    consumers re-derive the text the same way).

    Scale: block counting is ONE keyed aggregate on the md5 block key
    (map-side combine — a boilerplate block repeated 10⁶ times arrives
    at the reducer as partial counts, not rows); the verdict join back
    to the exploded blocks shuffles both sides on the same key, so AQE
    reuses the exchange; reassembly is a per-doc collect_list bounded
    by document length (array_sort fixes collect_list's
    nondeterministic arrival order). No windows over raw blocks, no
    all-pairs anything.
    """
    blocks = line_blocks(t["documents"])
    counts = blocks.groupBy("bh").agg(F.count(F.lit(1)).alias("n_occ"))
    joined = blocks.join(counts, "bh")
    kept = F.col("n_occ") == 1
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum((~kept).cast("bigint")).alias("n_dropped"),
        F.coalesce(F.sum(F.when(kept, F.col("ntok"))), F.lit(0)).alias(
            "clean_n_tokens"
        ),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN n_occ = 1 "
                    "THEN struct(pos, btxt) END)), x -> x.btxt)"
                ),
            )
        ).alias("clean_md5"),
    )


_H60_D = H60_DUCK.format(c="tok")

_MINHASH_AGGS_D = ",\n            ".join(
    f"min(({a} * h + {b}) % {MOD_P}) AS mh{i}" for i, (a, b) in enumerate(MINHASH_COEFFS)
)
_BAND_SELECTS_D = "\n            UNION ALL ".join(
    "SELECT {b} AS band_id, ".format(b=b)
    + " || '_' || ".join(f"mh{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND))
    + " AS band_key, doc_id FROM sigs"
    for b in range(N_BANDS)
)
_SIG_MATCHES_D = " + ".join(
    f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)

_MINHASH_CTE = f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, unnest({_SH_D}) AS s FROM tk0
        ), hashed AS (
            SELECT doc_id, {_H28_D} AS h FROM sh
        ), sigs AS (
            SELECT doc_id, {_MINHASH_AGGS_D}
            FROM hashed GROUP BY doc_id
        ), buckets AS (
            {_BAND_SELECTS_D}
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
"""

#: blocks CTE shared by the text_line_dedup oracle and the
#: flow_dup_lines blacklist oracle — MUST mirror line_blocks() exactly
_LINE_BLOCKS_CTE = f"""
        WITH tk0 AS (
            SELECT doc_id, {{toks}} AS tk FROM documents
        ), blk AS (
            SELECT doc_id, (u.pos)::BIGINT AS pos, (u.ntok)::BIGINT AS ntok,
                   u.btxt AS btxt, md5(u.btxt) AS bh
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(tk) + 1, {LINE_TOKENS}),
                           s -> {{{{'pos': s,
                                 'ntok': least({LINE_TOKENS}, len(tk) - s + 1),
                                 'btxt': array_to_string(tk[s:s + {LINE_TOKENS - 1}], ' ')}}}})) AS u
                FROM tk0 WHERE len(tk) > 0
            )
        ), c AS (
            SELECT bh, count(*)::BIGINT AS n_occ FROM blk GROUP BY bh
        )
"""

ORACLES: dict[str, str] = {
    "text_line_dedup": _LINE_BLOCKS_CTE.format(toks=_TOKS_D)
    + """
        , j AS (
            SELECT blk.doc_id, blk.pos, blk.ntok, blk.btxt, c.n_occ
            FROM blk JOIN c USING (bh)
        )
        SELECT doc_id,
               count(*)::BIGINT AS n_blocks,
               (count(*) FILTER (WHERE n_occ > 1))::BIGINT AS n_dropped,
               coalesce(sum(ntok) FILTER (WHERE n_occ = 1), 0)::BIGINT AS clean_n_tokens,
               md5(coalesce(string_agg(btxt, ' ' ORDER BY pos) FILTER (WHERE n_occ = 1), '')) AS clean_md5
        FROM j GROUP BY doc_id
    """,
    "text_incremental_dedup": f"""
        WITH hashed AS (
            SELECT doc_id, md5(lower(trim(text))) AS h FROM documents
        ), incoming AS (
            SELECT doc_id, h,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM hashed WHERE doc_id % {INCR_MOD} = 0
        ), known AS (
            SELECT DISTINCT h FROM hashed WHERE doc_id % {INCR_MOD} <> 0
        )
        SELECT i.doc_id, i.h,
               (i.rn = 1 AND k.h IS NULL)::BIGINT AS accept
        FROM incoming i LEFT JOIN known k ON i.h = k.h
    """,
    "text_dedup_exact": """
        SELECT doc_id, (rn > 1)::BIGINT AS is_dup FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
            FROM documents
        )
    """,
    "text_dedup_keep_best": """
        SELECT doc_id, h, n_dups, (doc_id = best_id)::BIGINT AS is_kept FROM (
            SELECT doc_id,
                   md5(lower(trim(text))) AS h,
                   count(*) OVER (PARTITION BY md5(lower(trim(text)))) AS n_dups,
                   first_value(doc_id) OVER (
                       PARTITION BY md5(lower(trim(text)))
                       ORDER BY length(text) DESC, doc_id
                   ) AS best_id
            FROM documents
        )
    """,
    "text_minhash_lsh_pairs": _MINHASH_CTE
    + f"""
        SELECT doc_a, doc_b, ({_SIG_MATCHES_D})::BIGINT AS sig_matches
        FROM pairs
        JOIN sigs sa ON pairs.doc_a = sa.doc_id
        JOIN sigs sb ON pairs.doc_b = sb.doc_id
    """,
    "simhash_pair_search": f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOKS_D}) AS tok FROM documents
        ), hashed AS (
            SELECT doc_id, {_H60_D} AS h FROM tok
        ), bits AS (
            SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM hashed, range({SIMHASH_BITS}) r(j)
            GROUP BY doc_id, j
        ), sim AS (
            SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
            FROM bits GROUP BY doc_id
        ), buckets AS (
            SELECT b AS band, (simhash >> (b * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS bkey,
                   doc_id, simhash
            FROM sim, range({SIMHASH_BANDS}) r(b)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sim_a, b.simhash AS sim_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_PAIR_HAMMING_MAX}
    """,
    "simhash_docs": f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOKS_D}) AS tok FROM documents
        ), hashed AS (
            SELECT doc_id, {_H60_D} AS h FROM tok
        ), bits AS (
            SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM hashed, range({SIMHASH_BITS}) r(j)
            GROUP BY doc_id, j
        )
        SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
        FROM bits GROUP BY doc_id
    """,
    "text_novelty_decay": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, unnest({_SH_D}) AS s FROM tk0
        ), first AS (
            SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
        ), scored AS (
            SELECT sh.doc_id,
                   COUNT(*) AS n_sh,
                   SUM((sh.doc_id = first.first_doc)::BIGINT)::BIGINT AS novel_sh
            FROM sh JOIN first ON sh.s = first.s
            GROUP BY sh.doc_id
        ), tiled AS (
            SELECT *, ntile(10) OVER (ORDER BY doc_id)::BIGINT AS decile FROM scored
        )
        SELECT decile, COUNT(*) AS n_docs,
               SUM(novel_sh)::BIGINT AS novel_shingles,
               SUM(n_sh)::BIGINT AS n_shingles,
               ((SUM(novel_sh) * 1000) // SUM(n_sh))::BIGINT AS novelty_permille
        FROM tiled GROUP BY decile
    """,
    "text_ngram_novelty": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, unnest({_SH_D}) AS s FROM tk0
        ), first AS (
            SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
        ), scored AS (
            SELECT sh.doc_id,
                   COUNT(*) AS n_shingles,
                   SUM((sh.doc_id = first.first_doc)::BIGINT)::BIGINT AS novel_shingles
            FROM sh JOIN first ON sh.s = first.s
            GROUP BY sh.doc_id
        )
        SELECT doc_id, n_shingles, novel_shingles,
               (novel_shingles * 1000) // n_shingles AS novelty_permille
        FROM scored
    """,
    "text_incremental_neardup": _MINHASH_CTE
    + f"""
        , inc AS (
            SELECT * FROM buckets WHERE doc_id % {INCR_MOD} = 0
        ), corp AS (
            SELECT * FROM buckets WHERE doc_id % {INCR_MOD} <> 0
        ), cand AS (
            SELECT DISTINCT inc.doc_id AS doc_id, corp.doc_id AS corpus_id
            FROM inc JOIN corp
              ON inc.band_id = corp.band_id AND inc.band_key = corp.band_key
        ), scored AS (
            SELECT cand.doc_id, cand.corpus_id,
                   ({_SIG_MATCHES_D})::BIGINT AS sig_matches
            FROM cand
            JOIN sigs sa ON cand.doc_id = sa.doc_id
            JOIN sigs sb ON cand.corpus_id = sb.doc_id
        ), filt AS (
            SELECT * FROM scored WHERE sig_matches >= {INCR_SIG_THRESHOLD}
        ), best AS (
            SELECT doc_id, corpus_id AS best_match, sig_matches AS best_sig_matches,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY sig_matches DESC, corpus_id ASC) AS rn
            FROM filt
        )
        SELECT d.doc_id,
               COALESCE(b.best_match, -1) AS best_match,
               COALESCE(b.best_sig_matches, 0) AS best_sig_matches,
               (b.best_match IS NOT NULL)::BIGINT AS is_neardup
        FROM (SELECT doc_id FROM documents WHERE doc_id % {INCR_MOD} = 0) d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
    """,
    "text_levenshtein_pairs": _MINHASH_CTE
    + """
        SELECT p.doc_a, p.doc_b,
               levenshtein(da.text, db.text)::BIGINT AS edit_dist,
               (levenshtein(da.text, db.text) * 1000 //
                greatest(length(da.text), length(db.text)))::BIGINT AS dist_permille
        FROM pairs p
        JOIN documents da ON p.doc_a = da.doc_id
        JOIN documents db ON p.doc_b = db.doc_id
    """,
    "text_containment_pairs": _MINHASH_CTE
    + """
        , sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_ct
            FROM pairs p
            JOIN sh ta ON p.doc_a = ta.doc_id
            JOIN sh tb ON p.doc_b = tb.doc_id AND ta.s = tb.s
            GROUP BY p.doc_a, p.doc_b
        )
        SELECT p.doc_a, p.doc_b,
               coalesce(inter_ct, 0) AS inter_ct,
               (coalesce(inter_ct, 0) * 1000) // na.n AS contain_a_permille,
               (coalesce(inter_ct, 0) * 1000) // nb.n AS contain_b_permille
        FROM pairs p
        LEFT JOIN inter ON p.doc_a = inter.doc_a AND p.doc_b = inter.doc_b
        JOIN sizes na ON p.doc_a = na.doc_id
        JOIN sizes nb ON p.doc_b = nb.doc_id
    """,
    "text_ngram_jaccard_pairs": _MINHASH_CTE
    + f"""
        , sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_ct
            FROM pairs p
            JOIN sh ta ON p.doc_a = ta.doc_id
            JOIN sh tb ON p.doc_b = tb.doc_id AND ta.s = tb.s
            GROUP BY p.doc_a, p.doc_b
        )
        SELECT p.doc_a, p.doc_b,
               coalesce(inter_ct, 0) AS inter_ct,
               (na.n + nb.n - coalesce(inter_ct, 0)) AS union_ct,
               (coalesce(inter_ct, 0) * 1000) // (na.n + nb.n - coalesce(inter_ct, 0)) AS jaccard_permille
        FROM pairs p
        LEFT JOIN inter ON p.doc_a = inter.doc_a AND p.doc_b = inter.doc_b
        JOIN sizes na ON p.doc_a = na.doc_id
        JOIN sizes nb ON p.doc_b = nb.doc_id
    """,
}

ORACLES["text_neardup_drop_list"] = _MINHASH_CTE + f"""
        , sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_ct
            FROM pairs p
            JOIN sh ta ON p.doc_a = ta.doc_id
            JOIN sh tb ON p.doc_b = tb.doc_id AND ta.s = tb.s
            GROUP BY p.doc_a, p.doc_b
        ), verified AS (
            SELECT p.doc_a, p.doc_b,
                   (coalesce(inter_ct, 0) * 1000) // (na.n + nb.n - coalesce(inter_ct, 0)) AS jp
            FROM pairs p
            LEFT JOIN inter ON p.doc_a = inter.doc_a AND p.doc_b = inter.doc_b
            JOIN sizes na ON p.doc_a = na.doc_id
            JOIN sizes nb ON p.doc_b = nb.doc_id
        ), drops AS (
            SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jp >= 300
        )
        SELECT d.doc_id,
               (CASE WHEN drops.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS is_drop
        FROM documents d LEFT JOIN drops ON d.doc_id = drops.doc_id
    """

# corpus_clean_manifest's BUILDER lives in text.py (it composes
# text_quality_score with neardup_drop_list); its oracle lives here because
# it extends the minhash CTE stack.
from .text import _stop_list_sql  # noqa: E402  (no circular: text doesn't import back)

ORACLES["text_clean_manifest"] = _MINHASH_CTE + f"""
        , sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_ct
            FROM pairs p
            JOIN sh ta ON p.doc_a = ta.doc_id
            JOIN sh tb ON p.doc_b = tb.doc_id AND ta.s = tb.s
            GROUP BY p.doc_a, p.doc_b
        ), verified AS (
            SELECT p.doc_a, p.doc_b,
                   (coalesce(inter_ct, 0) * 1000) // (na.n + nb.n - coalesce(inter_ct, 0)) AS jp
            FROM pairs p
            LEFT JOIN inter ON p.doc_a = inter.doc_a AND p.doc_b = inter.doc_b
            JOIN sizes na ON p.doc_a = na.doc_id
            JOIN sizes nb ON p.doc_b = nb.doc_id
        ), drops AS (
            SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jp >= 300
        ), q AS (
            SELECT doc_id,
                   CASE WHEN len(tk)::BIGINT >= 10
                             AND (len(list_filter(tk, x -> x IN ({_stop_list_sql()})))::BIGINT * 1000)
                                 // len(tk)::BIGINT >= 20
                        THEN 1 ELSE 0 END AS quality_keep
            FROM tk0
        )
        SELECT d.doc_id,
               q.quality_keep::BIGINT AS quality_keep,
               (CASE WHEN drops.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS neardup_drop,
               (CASE WHEN q.quality_keep = 1 AND drops.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS keep
        FROM documents d
        JOIN q ON d.doc_id = q.doc_id
        LEFT JOIN drops ON d.doc_id = drops.doc_id
    """

BUILDERS = {
    "text_dedup_exact": dedup_exact,
    "text_dedup_keep_best": dedup_keep_best,
    "text_minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash_docs": simhash_docs,
    "text_ngram_jaccard_pairs": ngram_jaccard_pairs,
    "text_neardup_drop_list": neardup_drop_list,
    "text_neardup_clusters": neardup_clusters,
    "text_incremental_dedup": incremental_dedup,
    "text_line_dedup": line_dedup,
    "text_containment_pairs": containment_pairs,
    "text_levenshtein_pairs": levenshtein_pairs,
    "text_incremental_neardup": incremental_neardup,
    "text_ngram_novelty": ngram_novelty,
    "simhash_pair_search": simhash_hamming_pairs,
    "text_novelty_decay": novelty_decay_curve,
    "source_minhash_jaccard": source_minhash_jaccard,
}

# Fixpoint of min-label propagation == connected components labeled by
# component-min doc_id; DuckDB computes the transitive closure with a
# recursive CTE over the SAME LSH-banded, >=300 permille-verified edges.
ORACLES["text_neardup_clusters"] = _MINHASH_CTE.replace("WITH", "WITH RECURSIVE", 1) + f"""
        , sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_ct
            FROM pairs p
            JOIN sh ta ON p.doc_a = ta.doc_id
            JOIN sh tb ON p.doc_b = tb.doc_id AND ta.s = tb.s
            GROUP BY p.doc_a, p.doc_b
        ), verified AS (
            SELECT p.doc_a, p.doc_b
            FROM pairs p
            JOIN inter ON p.doc_a = inter.doc_a AND p.doc_b = inter.doc_b
            JOIN sizes na ON p.doc_a = na.doc_id
            JOIN sizes nb ON p.doc_b = nb.doc_id
            WHERE (inter_ct * 1000) // (na.n + nb.n - inter_ct) >= 300
        ), e AS (
            SELECT doc_a, doc_b FROM verified
            UNION ALL
            SELECT doc_b, doc_a FROM verified
        ), reach(doc_id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.doc_a, reach.r FROM e JOIN reach ON reach.doc_id = e.doc_b
        )
        SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
    """

ORACLES["source_minhash_jaccard"] = f"""
        WITH tk0 AS (
            SELECT source, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT DISTINCT source, unnest({_SH_D}) AS s FROM tk0
        ), hashed AS (
            SELECT source, {_H28_D} AS h FROM sh
        ), sigs AS (
            SELECT source, {_MINHASH_AGGS_D}
            FROM hashed GROUP BY source
        )
        SELECT sa.source AS source_a, sb.source AS source_b,
               ({_SIG_MATCHES_D})::BIGINT AS sig_matches,
               round(({_SIG_MATCHES_D}) / {N_HASHES}.0, 6) AS est_jaccard
        FROM sigs sa JOIN sigs sb ON sa.source < sb.source
"""

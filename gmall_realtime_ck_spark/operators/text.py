"""Text-analysis operators for the documents table.

Covers the reference's tokenizer UDTF (the ik_analyze Chinese word
segmenter, DWS:traffic-source-keyword-page-view-window/function/
KeywordUDTF.java:14-29 + util/KeywordUtil.java:18-32) re-expressed as a
JVM-side split+explode (no Python UDF in the hot path), plus the
training-data-pipeline text ops: language ID, quality scoring, token
counting, document fingerprinting.

Hash-exactness: every expression here has a DuckDB twin in ``ORACLES``;
the token regex, md5-based integer hashing and integer-only arithmetic
are chosen so both engines produce bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The tokenizer: lowercase, split on non-alphanumeric runs, drop empties.
# IK 'smart' segmentation is not reproducible bit-for-bit (SURVEY §7 H5);
# this deterministic tokenizer is registered identically on both engines.
TOKENS_SPARK = "filter(split(lower({c}), '[^a-z0-9]+'), x -> x != '')"
TOKENS_DUCK = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"

# 60-bit integer hash of a string from its md5 hex — identical in Spark
# (conv) and DuckDB (hex cast). Used by fingerprint/simhash/minhash.
H60_SPARK = "cast(conv(substring(md5({c}), 1, 15), 16, 10) as bigint)"
H60_DUCK = "(('0x' || substr(md5({c}), 1, 15))::BIGINT)"
# 28-bit variant where products with ~30-bit coefficients must stay in int64
H28_SPARK = "cast(conv(substring(md5({c}), 1, 7), 16, 10) as bigint)"
H28_DUCK = "(('0x' || substr(md5({c}), 1, 7))::BIGINT)"

# k-shingles over an ALREADY-MATERIALIZED token-array column: HOF
# lambdas re-evaluate their argument expression per element, so feeding
# the raw tokenizer expression in here would re-run the regex split per
# shingle (~500× per row — measured 7 s → 1 s at sf0.1 for fingerprints).
def shingles_from_tokens(tk: str, k: int) -> str:
    return (
        f"CASE WHEN size({tk}) >= {k} THEN "
        f"transform(sequence(1, size({tk}) - {k - 1}), i -> concat_ws(' ', slice({tk}, i, {k}))) "
        f"ELSE array() END"
    )


# "BPE-ish" token pattern: letter runs, digit runs, single punctuation.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "it")
MOD_P = 1000000007


def _stop_list_sql(quote: str = "'") -> str:
    return ", ".join(f"{quote}{w}{quote}" for w in STOPWORDS)


def traffic_keyword_count(t: dict[str, DataFrame]) -> DataFrame:
    """J7/A4 — tokenizer UDTF + lateral explode + keyword count:
    ``FROM search_table, LATERAL TABLE(ik_analyze(fullword))`` then
    TUMBLE count (DwsTrafficSourceKeywordPageViewWindow.java:60-76).
    Batch analogue over documents; the windowed streaming variant is in
    streaming/pipelines.py.
    """
    docs = t["documents"]
    toks = F.expr(TOKENS_SPARK.format(c="text"))
    return (
        docs.select(F.explode(toks).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count(F.lit(1)).alias("keyword_count"))
    )


def doc_token_count(t: dict[str, DataFrame]) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex token count
    per document (training-data pipeline op). JVM-side regexp — no
    Python in the loop.
    """
    docs = t["documents"]
    return docs.select(
        "doc_id",
        F.size(F.expr(TOKENS_SPARK.format(c="text"))).cast("bigint").alias("n_tokens_ws"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{BPE_RE}', 0)"))
        .cast("bigint")
        .alias("n_tokens_bpe"),
    )


def text_quality_score(t: dict[str, DataFrame]) -> DataFrame:
    """Quality scoring: length, mean token length, stopword ratio —
    integer-only arithmetic (permille) so both engines agree exactly.
    Heuristics in the spirit of C4/Gopher quality filters.
    """
    docs = t["documents"]
    # tokenize ONCE as a column (r14): the three token metrics each
    # inlined the full split+filter tokenizer subtree, so every row
    # paid the regex split 3× (HOFs are interpreted — no codegen CSE
    # rescues this; multi-reference non-cheap aliases are exempt from
    # CollapseProject, so the column form provably evaluates once).
    tokenized = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.expr(TOKENS_SPARK.format(c="text")).alias("tk"),
    )
    d = tokenized.select(
        "doc_id",
        "n_chars",
        F.expr("size(tk)").cast("bigint").alias("n_tokens"),
        F.expr(f"size(filter(tk, x -> x in ({_stop_list_sql()})))")
        .cast("bigint")
        .alias("stop_hits"),
        F.expr("aggregate(tk, 0L, (acc, x) -> acc + length(x))").alias("tok_chars"),
    )
    return d.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.expr("CASE WHEN n_tokens > 0 THEN (tok_chars * 1000) DIV n_tokens ELSE 0 END").alias(
            "avg_tok_len_permille"
        ),
        F.expr("CASE WHEN n_tokens > 0 THEN (stop_hits * 1000) DIV n_tokens ELSE 0 END").alias(
            "stop_ratio_permille"
        ),
        F.expr(
            "CASE WHEN n_tokens >= 10 AND (stop_hits * 1000) DIV n_tokens >= 20 THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("keep"),
    )


def text_lang_id(t: dict[str, DataFrame]) -> DataFrame:
    """Language ID via stopword-hit heuristic (n-gram/profile methods
    plug in the same shape). On the synthetic corpus every document is
    ASCII so the signal is the English stopword ratio; the operator's
    value is the deterministic, scale-safe plumbing (pure column ops).
    """
    docs = t["documents"]
    # tokenize ONCE as a column (r14) — see rules_gopher_quality
    tokenized = docs.select(
        "doc_id", "lang", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    )
    d = tokenized.select(
        "doc_id",
        "lang",
        F.expr("size(tk)").cast("bigint").alias("n_tokens"),
        F.expr(f"size(filter(tk, x -> x in ({_stop_list_sql()})))")
        .cast("bigint")
        .alias("stop_hits"),
    )
    pred = F.expr(
        "CASE WHEN n_tokens > 0 AND (stop_hits * 1000) DIV n_tokens >= 50 THEN 'en' ELSE 'other' END"
    )
    return d.select("doc_id", F.col("lang").alias("lang_label"), pred.alias("lang_pred"),
                    "stop_hits", "n_tokens")


def doc_fingerprint(t: dict[str, DataFrame]) -> DataFrame:
    """Document fingerprint: order-independent bag-of-shingles hash —
    sum of (md5-based 60-bit shingle hashes mod P) over the distinct
    3-token shingles, mod P. Commutative integer math ⇒ identical under
    any parallel execution order (Spark partial aggs) and in DuckDB.
    """
    docs = t["documents"]
    tokenized = docs.select("doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    h = H60_SPARK.format(c="s")
    return (
        tokenized.select(
            "doc_id",
            F.explode_outer(F.array_distinct(F.expr(shingles_from_tokens("tk", 3)))).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.coalesce(
                F.sum(F.expr(f"({h}) % {MOD_P}")) % MOD_P, F.lit(0).cast("bigint")
            ).alias("fingerprint"),
            F.count("s").alias("n_shingles"),
        )
    )


def corpus_clean_manifest(t: dict[str, DataFrame]) -> DataFrame:
    """Capstone training-data query: the per-document keep/drop
    manifest a cleaning pipeline ships — keep = passes quality gates
    AND is not a near-duplicate of a lower-id doc. Composes
    text_quality_score with the dedup drop list (shingle→MinHash→LSH→exact
    Jaccard) in one plan.
    """
    from .dedup import neardup_drop_list

    q = text_quality_score(t).select("doc_id", F.col("keep").alias("quality_keep"))
    d = neardup_drop_list(t)
    return (
        q.join(d, "doc_id")
        .select(
            "doc_id",
            "quality_keep",
            F.col("is_drop").alias("neardup_drop"),
            ((F.col("quality_keep") == 1) & (F.col("is_drop") == 0)).cast("bigint").alias("keep"),
        )
    )


BIGRAM_TOP_K = 5
TFIDF_TOP_K = 3


def bigram_topk(t: dict[str, DataFrame]) -> DataFrame:
    """n-gram language-model counts: top-k bigrams per language by
    frequency (ties broken lexicographically). One explode + one
    (lang, bigram) groupBy — the shuffle key has vocabulary², not
    corpus, cardinality, so the reduction stays small at any scale;
    the final rank is the two-level salted ``topk_per_key`` so a
    dominant language's whole bigram vocabulary never sorts through
    one reducer (r8 coarse-key window sweep).
    """
    from .relational import topk_per_key

    docs = t["documents"]
    tokenized = docs.select("lang", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    bg = tokenized.select("lang", F.explode(F.expr(shingles_from_tokens("tk", 2))).alias("bigram"))
    counts = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("ct"))
    top = topk_per_key(
        counts,
        ["lang"],
        [F.desc("ct"), F.asc("bigram")],
        BIGRAM_TOP_K,
        salt_on="bigram",
        rank_col="rank",
    )
    return top.select("lang", "bigram", "ct", F.col("rank").cast("bigint").alias("rank"))


#: PSI doc-length bucketing: bucket = min(n_chars // PSI_BUCKET_CHARS, PSI_BUCKETS-1)
PSI_BUCKETS = 10
PSI_BUCKET_CHARS = 200


def corpus_drift_psi(t: dict[str, DataFrame]) -> DataFrame:
    """Distribution-drift monitor: Population Stability Index of each
    source's doc-length distribution against the whole corpus — the
    screen a data pipeline runs per ingest batch to catch a source
    silently changing shape (truncation bugs, boilerplate floods)
    before it skews the training mix.

    PSI_s = Σ_b (p_sb − q_b)·ln(p_sb/q_b) over fixed-width length
    deciles, add-1-smoothed so empty buckets stay finite. Integer
    bucketing (no percentile pass) keeps it one scan: a (source,
    bucket) keyed count, totals derived by re-aggregating that tiny
    frame, and the ≤PSI_BUCKETS-row corpus distribution broadcast back.
    Nothing corpus-sized moves after the first map-side-combined count.
    """
    docs = t["documents"]
    b = F.least(
        (F.col("n_chars") / PSI_BUCKET_CHARS).cast("bigint"), F.lit(PSI_BUCKETS - 1)
    )
    counts = docs.groupBy("source", b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("ct")
    )
    # densify over the FIXED bucket domain 0..PSI_BUCKETS-1 (join-free
    # explode of a literal sequence over the |sources|-row aggregate),
    # add-1 smoothing
    dense = counts.select("source").distinct().select(
        "source",
        F.explode(F.expr(f"sequence(0L, {PSI_BUCKETS - 1}L)")).alias("bucket"),
    )
    dense = dense.join(counts, ["source", "bucket"], "left").select(
        "source", "bucket", (F.coalesce("ct", F.lit(0)) + 1).alias("ct")
    )
    src_tot = dense.groupBy("source").agg(F.sum("ct").alias("s_tot"))
    all_b = dense.groupBy("bucket").agg(F.sum("ct").alias("b_ct"))
    all_tot = dense.agg(F.sum("ct").alias("g_tot"))
    g_tot = float(all_tot.first()[0])  # O(1) scalar (rel_q22 pattern)
    scored = (
        dense.join(src_tot, "source")
        .join(F.broadcast(all_b), "bucket")
        .select(
            "source",
            (
                (F.col("ct") / F.col("s_tot") - F.col("b_ct") / F.lit(g_tot))
                * F.log((F.col("ct") / F.col("s_tot")) / (F.col("b_ct") / F.lit(g_tot)))
            ).alias("term"),
        )
    )
    return scored.groupBy("source").agg(F.round(F.sum("term"), 6).alias("psi"))


def doc_perplexity_bigram(t: dict[str, DataFrame]) -> DataFrame:
    """Perplexity filtering — the quality screen CCNet/Gopher run with a
    KenLM model, here with a corpus-trained Laplace-smoothed bigram LM
    so both engines reproduce it bit-for-bit: score every document by
    its average negative log-likelihood under the per-language bigram
    model trained on the corpus itself (repetitive/templated docs score
    low, rare-token soup scores high).

    P(w2|w1) = (c(w1w2) + 1) / (c(w1·) + V).  Scale shape: the model is
    built by keyed aggregation over exploded bigrams (vocabulary-, not
    corpus-, sized), log-probs are computed once per distinct
    (lang, bigram) and joined back to doc bigrams on that same key —
    one keyed shuffle each, nothing fact-sized broadcast (only the
    |langs|-row vocab table). Docs with < 2 tokens carry no bigrams and
    are absent, matching the oracle.
    """
    docs = t["documents"]
    return score_bigram_nll(doc_bigrams(docs), bigram_lm_table(docs))


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bigram) rows — works on a batch table or a
    stream; docs with < 2 tokens carry no bigrams."""
    tk0 = docs.select("doc_id", "lang", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    return tk0.select(
        "doc_id", "lang", F.explode(F.expr(shingles_from_tokens("tk", 2))).alias("bigram")
    )


def bigram_lm_table(docs: DataFrame) -> DataFrame:
    """The Laplace bigram model as a (lang, bigram, logp) table —
    vocab-sized keyed aggregates; shared by the batch scorer and the
    stream-static gate."""
    tk0 = docs.select("doc_id", "lang", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    bg = tk0.select(
        "doc_id", "lang", F.explode(F.expr(shingles_from_tokens("tk", 2))).alias("bigram")
    )
    # NOT pinned on purpose (a localCheckpoint was tried in r13 and
    # REVERTED): interleaved A/B read the pinned form consistently
    # ~40% SLOWER for doc_perplexity_bigram and ~17% slower for the
    # streaming gate — serializing the vocab²-row string-keyed model
    # through the block manager costs more than re-running the
    # codegen tokenize+count per plan copy at this frame's size.
    model = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("bg_ct"))
    ctx = (
        model.withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
        .groupBy("lang", "w1")
        .agg(F.sum("bg_ct").alias("ctx_ct"))
    )
    vocab = (
        tk0.select("lang", F.explode("tk").alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("v"))
    )
    return (
        model.withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
        .join(ctx, ["lang", "w1"])
        .join(F.broadcast(vocab), "lang")
        .select(
            "lang",
            "bigram",
            F.log(
                (F.col("bg_ct") + 1).cast("double")
                / (F.col("ctx_ct") + F.col("v")).cast("double")
            ).alias("logp"),
        )
    )


def score_bigram_nll(bg: DataFrame, scored: DataFrame) -> DataFrame:
    """Per-doc average NLL rollup of bigram rows against a
    (lang, bigram, logp) model table."""
    return (
        bg.join(scored, ["lang", "bigram"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("logp"), 6).alias("avg_nll"),
        )
    )


def doc_perplexity_heldout(t: dict[str, DataFrame]) -> DataFrame:
    """Held-out LM evaluation — the methodologically honest version of
    :func:`doc_perplexity_bigram`: the Laplace bigram model trains on
    the doc_id %% 5 != 0 split and scores ONLY the held-out docs, so
    the NLL measures generalization instead of memorization (the same
    split discipline `text_langid_ngram` uses). Unseen bigrams are
    not dropped: a LEFT join against the model backs off to the
    Laplace floor — 1/(c(w1·)+V) for a known context, 1/V for a
    context never seen in training — so every held-out bigram
    contributes and OOV-heavy docs score high, as they should.

    Scale: identical posture to the full-corpus scorer — vocab-sized
    keyed model aggregates, scored stream joined on (lang, bigram),
    plus one broadcast of the |langs|-row (ctx, vocab) tables for the
    backoff.
    """
    docs = t["documents"]
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    model = bigram_lm_table(train)
    # backoff tables: per-(lang, w1) context mass and per-lang vocab
    tk_train = train.select(
        "doc_id", "lang", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    )
    bg_train = tk_train.select(
        "lang", F.explode(F.expr(shingles_from_tokens("tk", 2))).alias("bigram")
    )
    ctx = (
        bg_train.select("lang", F.expr("split_part(bigram, ' ', 1)").alias("w1"))
        .groupBy("lang", "w1")
        .agg(F.count(F.lit(1)).alias("ctx_ct"))
    )
    vocab = (
        tk_train.select("lang", F.explode("tk").alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("v"))
    )
    bg_test = doc_bigrams(test).withColumn(
        "w1", F.expr("split_part(bigram, ' ', 1)")
    )
    scored = (
        bg_test.join(model, ["lang", "bigram"], "left")
        .join(ctx, ["lang", "w1"], "left")
        .join(F.broadcast(vocab), "lang")
        .withColumn(
            "lp",
            F.coalesce(
                "logp",
                F.log(
                    F.lit(1.0)
                    / (F.coalesce("ctx_ct", F.lit(0)) + F.col("v")).cast("double")
                ),
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("lp"), 6).alias("avg_nll_heldout"),
        )
    )


#: Kneser-Ney absolute discount (the classic 0.75 default)
KN_DISCOUNT = 0.75


def doc_perplexity_kneser_ney(t: dict[str, DataFrame]) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoothing KenLM
    actually uses (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.25),
    upgrading :func:`doc_perplexity_bigram`'s Laplace model:

    P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
             + D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|

    where the continuation probability counts CONTEXTS a word follows
    (types, not tokens) — the property that keeps "Francisco" from
    looking likely outside "San Francisco". Fixed D = 0.75; every
    count is a keyed vocabulary-sized aggregate off the same bigram
    model table (c, N1+(w1·), N1+(·w2), type total), composed in one
    arithmetic shape on both engines and rounded to 6 decimals so the
    per-doc average NLL hash-matches.

    Scale: identical posture to the Laplace op — model counts are
    keyed shuffles over exploded bigrams (vocab-sized), log-probs
    computed once per distinct (lang, bigram) and joined back on that
    key; nothing fact-sized broadcasts.
    """
    docs = t["documents"]
    tk0 = docs.select("doc_id", "lang", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    bg = tk0.select(
        "doc_id", "lang", F.explode(F.expr(shingles_from_tokens("tk", 2))).alias("bigram")
    )
    # NOT pinned on purpose (same tried-and-reverted r13 result as
    # bigram_lm_table: the string-keyed vocab² frame costs more to
    # checkpoint than its plan copies cost to re-aggregate).
    model = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("bg_ct"))
    parts = model.select(
        "lang",
        "bigram",
        "bg_ct",
        F.expr("split_part(bigram, ' ', 1)").alias("w1"),
        F.expr("split_part(bigram, ' ', 2)").alias("w2"),
    )
    ctx = parts.groupBy("lang", "w1").agg(
        F.sum("bg_ct").alias("ctx_ct"), F.count(F.lit(1)).alias("n1f")
    )
    cont = parts.groupBy("lang", "w2").agg(F.count(F.lit(1)).alias("n1b"))
    btypes = model.groupBy("lang").agg(F.count(F.lit(1)).alias("btypes"))
    scored = (
        parts.join(ctx, ["lang", "w1"])
        .join(cont, ["lang", "w2"])
        .join(F.broadcast(btypes), "lang")
        .select(
            "lang",
            "bigram",
            F.expr(
                f"ln((greatest(cast(bg_ct as double) - {KN_DISCOUNT}d, 0.0d)"
                f" + {KN_DISCOUNT}d * cast(n1f as double)"
                " * (cast(n1b as double) / cast(btypes as double)))"
                " / cast(ctx_ct as double))"
            ).alias("logp"),
        )
    )
    return (
        bg.join(scored, ["lang", "bigram"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("logp"), 6).alias("avg_nll_kn"),
        )
    )


#: PMI collocation mining: only pairs seen at least this often qualify
#: (rare pairs have unboundedly noisy PMI — the standard cutoff).
PMI_MIN_PAIR_CT = 5


def corpus_pmi_bigrams(t: dict[str, DataFrame]) -> DataFrame:
    """Collocation mining via pointwise mutual information (Church &
    Hanks 1990): score every adjacent token pair seen ≥
    PMI_MIN_PAIR_CT times by ln P(w1,w2) − ln P(w1) − ln P(w2), with
    pair probability from the bigram stream and unigram probabilities
    from the token stream — the classic phrase detector a tokenizer /
    vocab pipeline runs before merging multi-word units.

    Determinism: the result set is membership-stable (an integer count
    threshold, no ranking over floats) and the PMI itself is a fixed
    left-to-right sum of libm logs of exact integers, written
    identically in both engines, rounded to 6 dp.

    Scale: both count tables are keyed aggregations with map-side
    combine (vocabulary- and vocabulary²-sized, not corpus-sized); the
    two corpus totals are 1-row aggregates broadcast into the
    vocab-keyed join — nothing fact-sized moves after the first
    groupBy. PMI is computed in log space so no product of counts can
    overflow int64 at any corpus size.
    """
    docs = t["documents"]
    tk0 = docs.select(F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    tok = tk0.select(F.explode("tk").alias("tok"))
    # NOT pinned on purpose (r13 tried localCheckpoints on `uni` and
    # `pair_all` and REVERTED them — the A/B read ~15-20% slower:
    # same lesson as bigram_lm_table, string-keyed vocab frames are
    # cheaper to re-aggregate under codegen than to checkpoint).
    uni = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    n_tokens = uni.agg(F.sum("ct").alias("n_tokens"))
    bg = tk0.select(F.explode(F.expr(shingles_from_tokens("tk", 2))).alias("bigram"))
    pair_all = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("pair_ct"))
    m_pairs = pair_all.agg(F.sum("pair_ct").alias("m_pairs"))
    pairs = (
        pair_all.filter(F.col("pair_ct") >= PMI_MIN_PAIR_CT)
        .withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
        .withColumn("w2", F.expr("split_part(bigram, ' ', 2)"))
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("ct").alias("ct1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("ct").alias("ct2"))
    return (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(m_pairs))
        .select(
            "w1",
            "w2",
            "pair_ct",
            "ct1",
            "ct2",
            F.round(
                F.log(F.col("pair_ct").cast("double"))
                - F.log(F.col("m_pairs").cast("double"))
                - F.log(F.col("ct1").cast("double"))
                - F.log(F.col("ct2").cast("double"))
                + F.log(F.col("n_tokens").cast("double"))
                + F.log(F.col("n_tokens").cast("double")),
                6,
            ).alias("pmi"),
        )
    )


def corpus_tfidf_top_terms(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document top terms by a tf-idf surrogate. For a fixed corpus
    size N, idf = ln(N/df) is strictly decreasing in df, so ranking by
    the integer score tf·10⁶ ÷ df orders terms exactly like tf·idf
    would for same-tf terms — and being integer math it is bit-exact
    across engines (float log is not). Stopwords are excluded (their
    df ≈ N makes them rank noise).
    """
    from pyspark.sql import Window

    docs = t["documents"]
    tok = docs.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    ).filter(~F.col("token").isin(*STOPWORDS))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df_), "token").withColumn(
        "score", F.expr("(tf * 1000000) DIV df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tf", "df", "score", F.col("rank").cast("bigint").alias("rank"))
    )


def corpus_report(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source corpus report card — the QA dashboard query of a
    training-data pipeline: document counts, token volume, mean doc
    length (permille), and how many docs survive the quality gate.
    Quality columns are computed inline from the scan (no self-join
    with text_quality_score), so the plan is scan → project → one
    source-keyed aggregation.
    """
    docs = t["documents"]
    # tokenize ONCE as a column (r14) — see rules_gopher_quality
    tokenized = docs.select(
        "source", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    )
    d = tokenized.select(
        "source",
        F.expr("size(tk)").cast("bigint").alias("n_tokens"),
        F.expr(f"size(filter(tk, x -> x in ({_stop_list_sql()})))")
        .cast("bigint")
        .alias("stop_hits"),
    )
    d = d.withColumn(
        "keep",
        F.expr(
            "CASE WHEN n_tokens >= 10 AND (stop_hits * 1000) DIV n_tokens >= 20 THEN 1 ELSE 0 END"
        ).cast("bigint"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("keep").alias("kept_ct"),
        )
        .withColumn("avg_tokens_permille", F.expr("(total_tokens * 1000) DIV n_docs"))
    )


HASH_DIM = 64  # feature-hashing output dimensionality


def feature_hashing(t: dict[str, DataFrame]) -> DataFrame:
    """Hashing-trick featurizer: each document becomes a sparse
    HASH_DIM-dimensional bag-of-words vector — token → md5-hash mod
    HASH_DIM, weight = occurrence count. Emitted in long form
    (doc_id, dim, weight), the layout a distributed trainer shards by
    doc range; no vocabulary broadcast is ever needed, which is the
    point of feature hashing at corpus scale.
    """
    docs = t["documents"]
    tok = docs.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    return (
        tok.withColumn("dim", F.expr(H28_SPARK.format(c="token")) % HASH_DIM)
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


_TOKS_D = TOKENS_DUCK.format(c="text")
_STOPS = _stop_list_sql()

def rules_gopher_quality(t: dict[str, DataFrame]) -> DataFrame:
    """Gopher-style rule bundle (Rae et al. 2021 §A1.1, arXiv:
    2112.11446) — per-document pass/fail flags for each rule plus the
    conjunction, so downstream filters can report *why* a document was
    dropped, not just that it was. Line-level rules (bullet/ellipsis
    lines) are omitted: the synthetic corpus is single-line; they slot
    in as two more flag columns on real data.

    Rules (integer permille arithmetic — no float drift):
    - word count in [50, 100000]
    - mean word length in [3.0, 10.0]
    - ≥ 80% of words contain an alphabetic character
    - ≥ 2 distinct stopwords present
    - symbol('#', '…')-to-word ratio < 10%

    Scale: map-only column algebra over the documents scan — no
    shuffle, no UDF, whole-stage codegen end to end.
    """
    docs = t["documents"]
    # tokenize ONCE as a column (r14): the four token metrics each
    # inlined the full split+filter tokenizer subtree — every row paid
    # the regex split 4× (HOFs are interpreted, so no codegen
    # subexpression elimination applies; a multi-reference non-cheap
    # alias is exempt from CollapseProject, so this column provably
    # evaluates once — measured 0.52 → 0.31 s at sf0.1, and the win is
    # 4×→1× on the dominant per-row map cost at any scale).
    tokenized = docs.select(
        "doc_id", "text", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    )
    d = tokenized.select(
        "doc_id",
        F.expr("size(tk)").cast("bigint").alias("n_words"),
        F.expr("aggregate(tk, 0L, (acc, x) -> acc + length(x))").alias("tok_chars"),
        F.expr("size(filter(tk, x -> x rlike '[a-z]'))").cast("bigint").alias("alpha_words"),
        F.expr(
            f"size(array_distinct(filter(tk, x -> x in ({_stop_list_sql()}))))"
        )
        .cast("bigint")
        .alias("distinct_stops"),
        (
            (F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", "")))
            + (F.length("text") - F.length(F.regexp_replace(F.col("text"), "\\.\\.\\.", ""))) / 3
        )
        .cast("bigint")
        .alias("symbol_hits"),
    )
    d = d.select(
        "doc_id",
        "n_words",
        F.expr("CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("r_word_count"),
        F.expr(
            "CASE WHEN n_words > 0 AND (tok_chars * 1000) DIV n_words BETWEEN 3000 AND 10000"
            " THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("r_mean_word_len"),
        F.expr(
            "CASE WHEN n_words > 0 AND (alpha_words * 1000) DIV n_words >= 800"
            " THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("r_alpha_ratio"),
        F.expr("CASE WHEN distinct_stops >= 2 THEN 1 ELSE 0 END").cast("bigint").alias("r_stopwords"),
        F.expr(
            "CASE WHEN n_words > 0 AND (symbol_hits * 1000) DIV n_words < 100"
            " THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("r_symbol_ratio"),
    )
    return d.withColumn(
        "keep",
        (
            F.col("r_word_count")
            * F.col("r_mean_word_len")
            * F.col("r_alpha_ratio")
            * F.col("r_stopwords")
            * F.col("r_symbol_ratio")
        ).cast("bigint"),
    )


def text_span_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """CCNet/C4-style span-level exact dedup with reassembly: documents
    are cut into fixed 10-token spans, every span is kept only at its
    first occurrence corpus-wide (ordered by doc_id, span position),
    and surviving spans are stitched back into a cleaned text.
    Removes boilerplate repeated across documents without dropping the
    documents themselves (CCNet, arXiv:1911.00359 §4.1).

    Scale: spans fan out ~|tokens|/10 rows, then ONE aggregation keyed
    on the span string computes the argmin owner via a partial-
    aggregatable ``min(struct(doc_id, span_idx))`` — deliberately NOT a
    row_number window, so a span duplicated a billion times collapses
    map-side instead of single-reducer sorting; the reassembly is a
    second keyed shuffle on doc_id. No Python, no skew cliff.
    """
    docs = t["documents"]
    spans = docs.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, int(ceil(size(split(text, ' ')) / 10.0)) - 1),"
            " i -> array_join(slice(split(text, ' '), i * 10 + 1, 10), ' '))"
        ).alias("spans"),
    ).select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
    first_owner = (
        spans.groupBy("span")
        .agg(F.min(F.struct("doc_id", "span_idx")).alias("o"))
        .select(F.col("o.doc_id").alias("doc_id"), F.col("o.span_idx").alias("span_idx"), "span")
    )
    return (
        first_owner.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("span_idx", "span"))).alias("kept"))
        .select(
            "doc_id",
            F.size("kept").cast("bigint").alias("n_kept_spans"),
            F.array_join(F.expr("transform(kept, x -> x.span)"), " ").alias("clean_text"),
        )
    )


def corpus_inverted_index(t: dict[str, DataFrame], min_df: int = 5, max_postings: int = 20) -> DataFrame:
    """Inverted index build: token → document frequency + the first
    ``max_postings`` doc_ids (sorted). The retrieval-side artifact a
    corpus pipeline emits next to TF-IDF — and the shape BM25 /
    contamination-lookup serving needs.

    Scale: one explode to distinct (token, doc_id) rows; ``df`` is a
    keyed count (map-side partials) and the truncated posting list is
    the two-level salted ``topk_per_key`` (smallest ``max_postings``
    doc_ids per token). The earlier single-agg form sliced AFTER a
    ``collect_list`` — output bounded, but the aggregation BUFFER for
    a stopword token was corpus-sized (every doc_id gathered into one
    array before the sort); the rank spine bounds the intermediate
    state too (WindowGroupLimit keeps ≤ max_postings rows per
    (token, salt) map-side, and no reducer sorts more than ~1/16 of a
    hot token's postings). A production index shards hot postings; a
    stats/serving index truncates, which is the contract here (df
    keeps the true count). min_df prunes the hapax tail at the count
    agg. Postings are emitted as a comma-joined string —
    hashable/serializable everywhere (list columns are not), same
    information.
    """
    from .relational import topk_per_key

    docs = t["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.expr(TOKENS_SPARK.format(c="text")))).alias("token")
    )
    counts = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    top = topk_per_key(toks, ["token"], [F.asc("doc_id")], max_postings, salt_on="doc_id")
    postings = top.groupBy("token").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")),
            ",",
        ).alias("postings")
    )
    return postings.join(counts, "token").select("token", "df", "postings")


#: space-saving sketch capacity per partition — must be ≥ HH_K for the
#: superset guarantee (untracked ⇒ partition count ≤ n_p/capacity).
HH_CAPACITY = 512
#: heavy-hitter threshold: a token is heavy iff count * HH_K > total.
HH_K = 200


def _space_saving_candidates(toks: DataFrame, capacity: int = HH_CAPACITY) -> DataFrame:
    """Phase-1 bounded-memory candidate generation (space-saving /
    stream-summary, Metwally et al. 2005): each partition keeps at most
    ``capacity`` counters; a new token evicts the minimum counter and
    inherits its count. Guarantee: every token whose partition-local
    count exceeds n_p/capacity is still tracked when the partition
    drains, so the union of per-partition survivors is a superset of
    all global φ-heavy hitters with φ = 1/capacity ≥ 1/HH_K — no matter
    how large the vocabulary grows. Arrow batches are pre-reduced with
    ``value_counts`` so the Python dict work is per-distinct-token, not
    per-row.
    """
    import pandas as pd

    def sketch(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for token, w in pdf["token"].value_counts().items():
                w = int(w)
                if token in counters:
                    counters[token] += w
                elif len(counters) < capacity:
                    counters[token] = w
                else:
                    victim = min(counters, key=counters.get)
                    floor = counters.pop(victim)
                    counters[token] = floor + w
        yield pd.DataFrame({"token": list(counters)})

    return toks.mapInPandas(sketch, "token string")


#: candidate vocabulary sizes for the coverage-at-K report
VOCAB_COVERAGE_KS = (1000, 10000, 50000)


def corpus_vocab_coverage(t: dict[str, DataFrame]) -> DataFrame:
    """Vocabulary coverage at candidate sizes — the tokenizer-design
    diagnostic: for K in ``VOCAB_COVERAGE_KS``, what permille of all
    token OCCURRENCES is covered by the K most frequent types (ties
    broken by token text, so the cut is deterministic in both
    engines)? The curve tells you where a vocab size stops paying —
    the standard first look before fitting a subword tokenizer
    (out-of-vocab mass = 1000 − coverage goes to <unk>/byte
    fallback). Emits one row per K: vocabulary size, covered / total
    occurrences, coverage permille.

    Scale: type counts are ONE keyed count with map-side partials
    (vocabulary-sized shuffle, the same spine every vocab op rides);
    the head slice comes from the two-level salted ``topk_per_key``
    (exact — top-K sets compose; no reducer sorts more than ~1/16 of
    the vocabulary) and everything after is 1-row aggregates over the
    ≤ max(K) slice: per-K coverage = |Ks| conditional sums, joined to
    the 1-row corpus totals by a bounded 1×1 nested loop, exploded to
    |Ks| output rows. No full-vocab sort anywhere.
    """
    from .relational import topk_per_key

    docs = t["documents"]
    counts = (
        docs.select(F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("vocab_total"),
        F.sum("ct").alias("tokens_total"),
    )
    top = topk_per_key(
        counts,
        [],
        [F.desc("ct"), F.asc("token")],
        max(VOCAB_COVERAGE_KS),
        "token",
    )
    cov = top.agg(
        *[
            F.sum(F.when(F.col("rk") <= k, F.col("ct")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"_cov_{k}")
            for k in VOCAB_COVERAGE_KS
        ]
    )
    structs = ", ".join(
        f"struct(CAST({k} AS BIGINT) AS vocab_k, _cov_{k} AS covered_tokens)"
        for k in VOCAB_COVERAGE_KS
    )
    return (
        cov.crossJoin(F.broadcast(totals))
        .select(
            F.explode(F.expr(f"array({structs})")).alias("s"),
            F.col("vocab_total").cast("bigint").alias("vocab_total"),
            F.col("tokens_total").cast("bigint").alias("tokens_total"),
        )
        .select(
            F.col("s.vocab_k").alias("vocab_k"),
            "vocab_total",
            F.col("s.covered_tokens").alias("covered_tokens"),
            "tokens_total",
            F.expr(
                "(1000 * s.covered_tokens) div greatest(tokens_total, 1)"
            ).alias("coverage_permille"),
        )
    )


def corpus_heavy_tokens(t: dict[str, DataFrame]) -> DataFrame:
    """Exact φ-heavy-hitters over the corpus vocabulary (φ = 1/HH_K):
    tokens whose count clears total/HH_K, with exact counts and permille
    share. Two-phase: a bounded-memory space-saving sketch per partition
    nominates candidates (superset guarantee, see
    ``_space_saving_candidates``), then ONE exact recount restricted to
    the candidate set via a broadcast semi join confirms or rejects
    each. The final numbers are exact — the sketch only prunes.

    Scale: the groupBy that would otherwise shuffle one row per
    distinct token (vocabulary-sized — billions of keys at 100 TB)
    instead shuffles only rows matching ≤ capacity·partitions
    candidates; sketch output is O(capacity) rows per partition
    regardless of input size. The corpus is scanned twice (sketch +
    recount) — a deliberate trade of a cheap rescan for a bounded
    shuffle.
    """
    docs = t["documents"]
    toks = docs.select(
        F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    from pyspark.sql import Window

    cands = _space_saving_candidates(toks).distinct()
    # Non-candidates collapse into one sentinel bucket so the SAME
    # aggregate yields both exact candidate counts and the true corpus
    # total (window-summed over ≤|candidates|+1 rows). The sentinel is
    # a hot key by construction — harmless, because count(1) partial-
    # aggregates map-side: each mapper emits one sentinel row.
    bucketed = toks.join(
        F.broadcast(cands.withColumn("_c", F.lit(1))), "token", "left"
    ).select(
        F.when(F.col("_c") == 1, F.col("token")).otherwise(F.lit("\x00other")).alias("token")
    )
    counts = bucketed.groupBy("token").agg(F.count(F.lit(1)).alias("ct"))
    total = F.sum("ct").over(Window.partitionBy())
    return (
        counts.withColumn("total", total)
        .filter((F.col("token") != "\x00other") & (F.col("ct") * HH_K > F.col("total")))
        .select(
            "token",
            "ct",
            F.expr("ct * 1000 div total").alias("share_permille"),
        )
    )


#: fixed hashed-feature weight: pseudo-random integer milliweight in
#: [-1000, 1000], derived from the dimension index (Knuth multiplicative
#: constant) — identical closed form on both engines.
_CLF_W = "({d} * 2654435761) % 2001 - 1000"


def doc_quality_classifier(t: dict[str, DataFrame]) -> DataFrame:
    """fastText-style linear quality classifier inference as pure
    column algebra: hash each token into HASH_DIM buckets (the
    ``text_feature_hashing`` transform), score a document as the sum of
    per-token integer milliweights from a fixed weight table, keep iff
    the logit is positive. Stand-in for the quality classifiers used to
    filter web corpora (GPT-3 appendix A; CCNet arXiv:1911.00359) with
    a deterministic weight vector so both engines agree bit-for-bit.

    Scale: model inference never leaves the JVM — the weight "table" is
    a closed-form expression on the hashed dimension, so scoring is one
    explode + ONE partial-aggregatable sum keyed on doc_id; no Python,
    no weight broadcast, no division (integer logits only).
    """
    docs = t["documents"]
    tok = docs.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    hashed = tok.withColumn(
        "dim", F.expr(H28_SPARK.format(c="token")) % HASH_DIM
    )
    logit = F.sum(F.expr(_CLF_W.format(d="dim"))).alias("logit")
    return (
        hashed.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), logit)
        .select(
            "doc_id",
            "n_tokens",
            "logit",
            (F.col("logit") > 0).cast("bigint").alias("keep"),
        )
    )


#: BPE statistics: top-K adjacent-symbol pairs reported
BPE_PAIR_TOP_K = 50


def corpus_bpe_pair_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Byte-pair-encoding merge statistics (the first BPE training
    iteration, Sennrich et al. 2016): corpus-wide frequencies of
    adjacent character pairs inside words, weighted by word frequency —
    the pair with the top count is the first merge a tokenizer trainer
    would pick. Top-50 pairs, ties broken lexicographically.

    Scale: pairs are generated from the DISTINCT word vocabulary, not
    the token stream — one (word) groupBy collapses the corpus to
    vocab-sized cardinality first (Zipf: orders of magnitude smaller),
    then the per-word char-pair explode fans out |word|-1 rows per
    DISTINCT word and re-aggregates keyed on the pair. Alphanumeric
    pairs have ≤ 36² distinct values, so the final top-K window runs
    over ≤ 1296 rows — a single-partition window over a bounded
    aggregate, never over data.
    """
    docs = t["documents"]
    words = docs.select(F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("wct"))
    pairs = vocab.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wct",
    )
    counts = pairs.groupBy("pair").agg(F.sum("wct").alias("ct"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("ct"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BPE_PAIR_TOP_K)
        .select("pair", "ct", F.col("rank").cast("bigint").alias("rank"))
    )


def corpus_length_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source document-length distribution: exact interpolated
    p10/p50/p90/p99 of ``n_chars`` plus count — the length profile a
    corpus mixer reads before setting truncation/packing budgets (the
    documents-table sibling of ``event_value_percentiles``). Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the linear-
    interpolation formula.

    Scale: rides ``exact_percentiles_by_counts`` over the
    (source, n_chars) histogram — the built-in ``percentile`` would
    buffer a source's whole length→count map in ONE reducer; the
    histogram form distributes the distinct lengths and keeps per-key
    state bounded, with bit-identical results (law-pinned) — no
    percentile_approx accuracy trade needed.

    NULL contract (r10 audit): ``n_chars`` is non-null by the
    documents schema contract (driver-generated, length-derived), so
    no pre-filter is needed here; a NULL-able length column fed to the
    histogram would need ``.isNotNull()`` first — see
    ``exact_percentiles_by_counts``'s contract and the r9 ADVICE #1
    fix in ``events_anomaly_mad``.
    """
    from .relational import exact_percentiles_by_counts

    d = t["documents"]
    return exact_percentiles_by_counts(
        d.select("source", "n_chars"),
        ["source"],
        "n_chars",
        {"p10": 0.1, "p50": 0.5, "p90": 0.9, "p99": 0.99},
        n_col="n_docs",
    ).select("source", "n_docs", "p10", "p50", "p90", "p99")


#: n-gram lang-ID profile size: top trigrams kept per language
LANGID_TOP = 40
#: character trigrams of the lowercased text (empty below 3 chars)
#: character trigrams over a pre-split char-array column {ch}:
#: substring(s, i, 3) inside the HOF would re-scan (and re-lowercase)
#: the whole string at every position — O(len²) per document, measured
#: 3.4 s for 1.5M trigrams at sf0.1; element_at on the split-once
#: array is O(1), so this form is linear. Same output strings, oracle
#: unchanged.
_TRIGRAMS_SPARK = (
    "CASE WHEN size({ch}) >= 3 THEN "
    "transform(sequence(1, size({ch}) - 2), "
    "i -> concat(element_at({ch}, i), element_at({ch}, i + 1), element_at({ch}, i + 2))) "
    "ELSE array() END"
)


def text_langid_ngram(t: dict[str, DataFrame]) -> DataFrame:
    """Character-trigram profile language ID (Cavnar & Trenkle 1994,
    the textcat family) — the model-based upgrade of the stopword
    heuristic in ``text_lang_id``: fit per-language trigram profiles
    (top ``LANGID_TOP`` trigrams by frequency) on a held-in training
    split (doc_id % 5 != 0), then classify EVERY document by profile-hit
    count, ties to the alphabetically first language. Deterministic and
    integer-exact end to end (counts, rank ties broken by trigram
    text / language name).

    Scale: profile fitting is one keyed (lang, trigram) count + a
    per-lang top-K over the |langs| × |distinct trigrams| aggregate
    via the two-level salted ``topk_per_key`` (a dominant language's
    trigram vocabulary never sorts through one reducer — r8 coarse-key
    window sweep); scoring joins each doc's DISTINCT trigrams against
    the |langs| × K profile — broadcast-sized by construction — and
    argmax is one keyed window over |docs| × |langs| score rows. The
    corpus is scanned twice (fit + apply), never shuffled pairwise.
    """
    from .relational import topk_per_key

    docs = t["documents"]
    tri = docs.select(
        "doc_id", "lang", F.expr("split(lower(text), '')").alias("ch")
    ).select(
        "doc_id",
        "lang",
        F.explode(F.expr(_TRIGRAMS_SPARK.format(ch="ch"))).alias("g"),
    )
    # r13 note: a per-doc count fold + localCheckpoint (sharing the
    # explode between the profile and scoring legs) was tried and
    # REVERTED — interleaved A/B read it 12-16% slower at sf0.1 in both
    # eager and lazy forms: the materialized (doc, g) frame is larger
    # than the raw trigram stream it folds, so the saved second explode
    # never pays for the persist. (Since the r14 scoring rewrite below,
    # `tri` has a single reference anyway — only the fit leg explodes.)
    train = tri.filter(F.col("doc_id") % 5 != 0)
    profile = topk_per_key(
        train.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("ct")),
        ["lang"],
        [F.desc("ct"), F.asc("g")],
        LANGID_TOP,
        salt_on="g",
    ).select(F.col("lang").alias("plang"), "g")
    # r14 scoring-leg rewrite (guide §4.2): the old apply side exploded
    # every document's trigrams a second time, DISTINCT-shuffled the
    # |doc × trigram| stream, broadcast-joined the profile, aggregated
    # hits and ran a keyed argmax window — three exchanges over
    # trigram-sized data to compute what is per-doc set arithmetic.
    # The profile is |langs| × LANGID_TOP rows BY CONSTRUCTION (the
    # same bounded-collect contract as cosine_topk's centroid table),
    # so it collects once and the scoring becomes ONE map-only Arrow
    # pass: the JVM computes each doc's trigram array (identical
    # expression — no Python re-tokenization to drift), Python scores
    # |set(trigrams) ∩ profile(lang)| per lang and takes the
    # (hits DESC, lang ASC) argmax — hits counted over DISTINCT
    # trigrams and ties to the alphabetically first language, exactly
    # the old distinct + window semantics; docs with no profile hits
    # (or < 3 chars) emit ('unk', 0) exactly as the old left join did.
    prof_pdf = profile.toPandas()
    prof_items = sorted(
        (lang, frozenset(grp["g"])) for lang, grp in prof_pdf.groupby("plang")
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            preds, hits_out = [], []
            for tg in pdf["tg"]:
                s = set(tg) if tg is not None else set()
                best_h, best_lang = 0, "unk"
                if s:
                    for lang, ps in prof_items:  # lang ASC ⇒ strict > keeps ties
                        h = len(s & ps)
                        if h > best_h:
                            best_h, best_lang = h, lang
                preds.append(best_lang)
                hits_out.append(best_h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang_label": pdf["lang"],
                    "lang_pred": pd.Series(preds, dtype="object"),
                    "hits": pd.Series(hits_out, dtype="int64"),
                }
            )

    tg_docs = docs.select(
        "doc_id", "lang", F.expr("split(lower(text), '')").alias("ch")
    ).select("doc_id", "lang", F.expr(_TRIGRAMS_SPARK.format(ch="ch")).alias("tg"))
    return tg_docs.mapInPandas(
        score, "doc_id long, lang_label string, lang_pred string, hits long"
    )


def corpus_token_gini(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source Gini coefficient of the token-frequency
    distribution — how head-heavy each source's vocabulary usage is
    (natural prose sits high, templated/boilerplate text higher
    still, uniform noise near 0): the corpus-composition diagnostic
    read next to vocab size and TTR when balancing a mixture.
    G = (2·Σᵢ i·xᵢ − (n+1)·Σᵢ xᵢ) / (n·Σᵢ xᵢ) over counts ranked
    ascending — all-integer in permille, so both engines agree
    exactly (rank ties broken by token text: total order).

    Scale: one keyed (source, token) count, then ONE ordered window
    per source over the vocab-sized AGGREGATE, then a per-source
    reduce. Raw tokens never see a window.
    """
    docs = t["documents"]
    toks = docs.select(
        "source", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("ct"))
    return gini_from_counts(counts)


def corpus_hapax_share(t: dict[str, DataFrame]) -> DataFrame:
    """Hapax legomenon share per source — the fraction (permille) of
    each source's vocabulary seen exactly once, the classic lexical-
    richness statistic read next to Gini/Zipf (high hapax share =
    productive vocabulary or noisy OCR; near-zero = templated text).
    Pure keyed aggregation over the vocab-sized count table — no
    window at all.
    """
    docs = t["documents"]
    toks = docs.select(
        "source", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("ct"))
    return (
        counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum((F.col("ct") == 1).cast("bigint")).alias("hapax"),
        )
        .select(
            "source",
            "vocab",
            "hapax",
            F.expr("(hapax * 1000) div vocab").alias("hapax_permille"),
        )
    )


def text_readability(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document readability scoring (Flesch reading-ease and
    Flesch–Kincaid grade, Kincaid et al. 1975) — the classic
    surface-form quality signal a training-data pipeline reads next to
    the Gopher rules and perplexity gates (very low reading-ease =
    run-on boilerplate/legalese; negative FK on token soup). Syllables
    use the standard vowel-group approximation (runs of [aeiou]), and
    sentences are [.!?]+ runs (floored at 1), so the whole operator is
    three JVM-side regexp counts + integer milli-point arithmetic —
    map-only, no shuffle, identical in DuckDB.

    flesch_e3  = 206835 − (1015·words) div sentences
                        − (84600·syllables) div words
    fk_grade_e3 = (390·words) div sentences
                  + (11800·syllables) div words − 15590
    """
    docs = t["documents"]
    return docs.select(
        "doc_id",
        F.size(F.expr(TOKENS_SPARK.format(c="text"))).cast("bigint").alias("n_words"),
        F.expr("GREATEST(size(regexp_extract_all(text, '[.!?]+', 0)), 1)")
        .cast("bigint")
        .alias("n_sentences"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))
        .cast("bigint")
        .alias("n_syllables"),
    ).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            "206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_syllables) div GREATEST(n_words, 1)"
        ).alias("flesch_e3"),
        F.expr(
            "(390 * n_words) div n_sentences"
            " + (11800 * n_syllables) div GREATEST(n_words, 1) - 15590"
        ).alias("fk_grade_e3"),
    )


def corpus_simpson_diversity(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source Simpson diversity index of the token distribution —
    the probability (ppm) that two tokens drawn without replacement
    differ: D = 1 − Σ nᵢ(nᵢ−1) / N(N−1). The complement of the
    repeat-rate, read next to Gini (inequality) and hapax share
    (tail mass) when balancing a corpus mixture: templated sources
    score low, diverse prose high. All-integer (ppm) so both engines
    agree exactly.

    Scale: one keyed (source, token) count with map-side partial
    aggregation, then a per-source reduce over the vocab-sized
    aggregate — raw tokens are never windowed or collected. The ppm
    ratio runs in 128-bit integer algebra (Spark DECIMAL(38,0) `div`,
    DuckDB HUGEINT `//` — both exact integral division) so
    repeat_pairs·10⁶ cannot wrap int64 at ≈3M tokens/source; the
    per-source counters themselves stay int64 (safe to ~9·10¹⁸
    tokens).
    """
    docs = t["documents"]
    toks = docs.select(
        "source", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("ct"))
    return simpson_from_counts(counts)


def simpson_from_counts(counts: DataFrame) -> DataFrame:
    """The Simpson ppm algebra over pre-aggregated (source, token, ct)
    rows — shared by the batch diagnostic and the streaming twin
    (which maintains ``counts`` continuously and re-runs this
    vocab-sized reduce per poll)."""
    return (
        counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum("ct").alias("n_tokens"),
            F.sum(F.col("ct") * (F.col("ct") - 1)).alias("repeat_pairs"),
        )
        .select(
            "source",
            "vocab",
            "n_tokens",
            F.expr(
                "CASE WHEN n_tokens >= 2 THEN"
                " 1000000 - (cast(repeat_pairs as decimal(38,0)) * 1000000)"
                " div (cast(n_tokens as decimal(38,0)) * (n_tokens - 1))"
                " ELSE 0 END"
            ).alias("simpson_ppm"),
        )
    )


def gini_from_counts(counts: DataFrame) -> DataFrame:
    """The rank-formula Gini algebra over pre-aggregated
    (source, token, ct) rows — shared by the batch diagnostic and the
    streaming twin (which maintains ``counts`` continuously and
    re-runs this vocab-sized algebra per poll).

    Scale (r8 coarse-key window sweep — the count-of-counts closed
    form, implemented): the rank formula needs Σ rank·ct over EVERY
    token, but tokens with equal ct are rank-interchangeable — a
    tie-run of m tokens starting after cumulative offset c contributes
    exactly ct·(m·c + m(m+1)/2) whatever its internal order. So the
    algebra runs over the per-source count-of-counts HISTOGRAM
    (|distinct ct| rows — O(√n_tokens)-ish by the integer-partition
    bound, thousands where the vocabulary is millions), never ranking
    the vocabulary itself: the only window is a running sum over
    histogram rows. All-integer (m(m+1) is even, so ``div 2`` is
    exact) ⇒ bit-identical to the rank form the DuckDB oracle mirrors
    — pinned by tests/test_invariants_new.py::
    test_gini_histogram_form_equals_rank_form."""
    by_ct = counts.groupBy("source", "ct").agg(F.count(F.lit(1)).alias("m"))
    w = (
        Window.partitionBy("source")
        .orderBy("ct")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = by_ct.withColumn("c", F.coalesce(F.sum("m").over(w), F.lit(0)))
    return (
        hist.groupBy("source")
        .agg(
            F.sum("m").alias("vocab"),
            F.sum(F.col("ct") * F.col("m")).alias("n_tokens"),
            F.sum(F.expr("ct * (m * c + (m * (m + 1)) div 2)")).alias("s1"),
        )
        .select(
            "source",
            "vocab",
            "n_tokens",
            F.expr(
                "(1000 * (2 * s1 - (vocab + 1) * n_tokens)) div (vocab * n_tokens)"
            ).alias("gini_permille"),
        )
    )


def text_zipf_fit(t: dict[str, DataFrame]) -> DataFrame:
    """TEST-ONLY law fixture (retired from the registry, r10 — VERDICT
    r9 "what's wrong" #1): the full-vocabulary Zipf exponent fit whose
    rank window sorts each source's whole vocabulary through one
    reducer — fine to ~10⁷ tokens, a scale-killer past that. The
    DECLARED query is ``text_zipf_topn_fit`` (head-slice fit via the
    two-level salted ``topk_per_key``); this form survives only as the
    convergence baseline the head-slice fit is law-pinned against
    (tests/test_invariants_new.py::test_zipf_topn_slope_converges /
    test_zipf_topn_equals_full_when_unsliced).
    """
    docs = t["documents"]
    toks = docs.select(
        "source", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("ct"))
    return zipf_from_counts(counts)


def zipf_from_counts(counts: DataFrame) -> DataFrame:
    """TEST-ONLY law fixture (retired from every declared plan, r10):
    the full-rank rank-frequency regression. It sorts each source's
    VOCABULARY (not its corpus) through one reducer — fine to ~10⁷
    tokens, unbounded past that. Unlike Gini (whose tie runs collapse
    in integer closed form — see ``gini_from_counts``), the regression
    needs Σ ln(rank) over each tie run, which has no exact integer
    form (it's lgamma differences), so there is no distributed exact
    rewrite; the production form is ``zipf_topn_from_counts`` — the
    head-slice fit via the two-level salted ``topk_per_key`` (no
    reducer ever sorts more than ~1/16 of a hot source's vocabulary),
    law-pinned to converge to this full-vocab slope
    (tests/test_invariants_new.py::test_zipf_topn_slope_converges)."""
    w = Window.partitionBy("source").orderBy(F.desc("ct"), F.asc("token"))
    ranked = counts.withColumn("rk", F.row_number().over(w)).select(
        "source",
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("ct").cast("double")).alias("y"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.expr("regr_slope(y, x)").alias("s"),
            F.expr("regr_r2(y, x)").alias("r2"),
        )
        .select(
            "source",
            "vocab",
            F.round("s", 6).alias("zipf_slope"),
            F.round("r2", 6).alias("fit_r2"),
        )
    )


#: production head-slice width for the at-scale Zipf fit: Zipf fits are
#: head-driven (the tail's log-rank spacing vanishes), and 10⁴ ranks
#: pin the slope to the full-vocab fit within noise on natural corpora
#: while keeping the per-source ranked set broadcast-tiny. The declared
#: query passes an explicit smaller N so the head slice is genuinely
#: narrower than the testdata vocabulary at every SF — the hash check
#: then certifies the SLICED path, not a degenerate full fit.
ZIPF_TOPN = 10_000


def text_zipf_topn_fit(t: dict[str, DataFrame]) -> DataFrame:
    """The at-scale Zipf exponent fit (VERDICT r8 #2): least-squares
    slope of ln(frequency) on ln(rank) over the top-N vocabulary slice
    per source instead of the full vocabulary. The full-vocab form
    (``text_zipf_fit``) sorts each source's whole vocabulary through
    one reducer — fine to ~10⁷ tokens, a scale-killer on 100 TB web
    text where junk tokens blow the per-source vocab past that. Here
    the slice comes from the two-level salted ``topk_per_key`` (rank
    within (source, xxhash64(token) mod 16) first, keep N per salt,
    re-rank ≤ 16·N survivors — exact by top-K set composition), so no
    reducer ever sorts more than ~1/16 of a hot source's vocabulary.
    The fit over the slice is a head-N approximation of the full fit
    BY DESIGN (documented, oracled in the same sliced form, and its
    convergence to the full slope on Zipfian input is pinned by
    tests/test_invariants_new.py::test_zipf_topn_slope_converges).
    ``vocab`` still reports the FULL vocabulary size — a keyed count
    with map-side partials, no sort anywhere.
    """
    docs = t["documents"]
    toks = docs.select(
        "source", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("ct"))
    return zipf_topn_from_counts(counts, n=25)


def zipf_topn_from_counts(counts: DataFrame, n: int = ZIPF_TOPN) -> DataFrame:
    """Top-``n`` head-slice rank-frequency regression over
    pre-aggregated (source, token, ct) rows — shared by the batch fit
    and the ``flow_zipf_topn`` streaming twin. The rank column produced
    by ``topk_per_key`` IS the global rank for the head (top-K sets
    compose), so ln(rank) here is identical to the full-vocab form's
    ln(rank) on the rows that survive the slice."""
    from .relational import topk_per_key

    # Both legs derive from the SAME plan (counts); aliasing the
    # aggregate's key to a fresh attribute avoids the self-join
    # "conflicting attributes" trap on table-backed inputs (the
    # streaming twin reads counts from a memory-sink table).
    full = counts.groupBy(F.col("source").alias("src_v")).agg(
        F.count(F.lit(1)).alias("vocab")
    )
    sliced = topk_per_key(
        counts,
        ["source"],
        [F.desc("ct"), F.asc("token")],
        n,
        salt_on="token",
    )
    ranked = sliced.select(
        "source",
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("ct").cast("double")).alias("y"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.expr("regr_slope(y, x)").alias("s"),
            F.expr("regr_r2(y, x)").alias("r2"),
        )
        .join(F.broadcast(full), F.col("source") == F.col("src_v"))
        .select(
            "source",
            "vocab",
            "n_top",
            F.round("s", 6).alias("zipf_slope"),
            F.round("r2", 6).alias("fit_r2"),
        )
    )


#: checkpoint count for the Heaps-law growth fit — 16 prefix points
#: spread over each source's doc_id range pin the log-log regression
#: without ever materializing the cumulative curve doc-by-doc.
HEAPS_POINTS = 16


def corpus_heaps_law(t: dict[str, DataFrame]) -> DataFrame:
    """Heaps'-law vocabulary-growth fit per source: the exponent β in
    V(n) ≈ K·n^β (Heaps 1978), regressed as ln(cum_vocab) on
    ln(cum_tokens) over ``HEAPS_POINTS`` doc_id-prefix checkpoints.
    Natural text sits near β≈0.5; β→1 flags machine-generated /
    ID-heavy junk whose "vocabulary" never converges, and the fitted
    curve forecasts tokenizer OOV growth and dedup-index sizing as a
    crawl scales — the planning twin of the duplication-inflation and
    epoch-schedule cards.

    Scale design — deliberately NO rank window and NO per-doc
    cumulative: each token's first occurrence is ``min(doc_id)`` per
    (source, token) (map-side combinable, the exact-dedup keep-first
    posture), each checkpoint membership is the integer predicate
    ``HEAPS_POINTS·first_doc ≤ max_doc·i`` (⟺ first_doc ≤
    ⌊max_doc·i/HEAPS_POINTS⌋ — exact in both engines), and the
    per-source curve is ``HEAPS_POINTS`` conditional sums in ONE keyed
    aggregate; the regression then runs over ≤ 16 points per source.
    A 100 TB corpus streams through two keyed aggregates and a
    broadcast of |sources| rows — nothing ever sorts.
    """
    docs = t["documents"]
    tok_arr = F.expr(TOKENS_SPARK.format(c="text"))
    toks = docs.select("source", "doc_id", F.explode(tok_arr).alias("token"))
    first_occ = toks.groupBy("source", "token").agg(F.min("doc_id").alias("fd"))
    per_doc = docs.select(
        "source", "doc_id", F.size(tok_arr).cast("long").alias("ntok")
    )
    mx = per_doc.groupBy(F.col("source").alias("src_m")).agg(
        F.max("doc_id").alias("mxd")
    )
    P = HEAPS_POINTS
    voc = (
        first_occ.join(F.broadcast(mx), F.col("source") == F.col("src_m"))
        .groupBy("source")
        .agg(
            *[
                F.sum((F.col("fd") * P <= F.col("mxd") * i).cast("long")).alias(f"v{i}")
                for i in range(1, P + 1)
            ]
        )
    )
    tok_cum = (
        per_doc.join(F.broadcast(mx), F.col("source") == F.col("src_m"))
        .groupBy(F.col("source").alias("src_t"))
        .agg(
            *[
                F.sum(
                    F.when(F.col("doc_id") * P <= F.col("mxd") * i, F.col("ntok")).otherwise(
                        F.lit(0)
                    )
                ).alias(f"n{i}")
                for i in range(1, P + 1)
            ]
        )
    )
    stack_args = ", ".join(f"{i}, v{i}, n{i}" for i in range(1, P + 1))
    pts = (
        voc.join(F.broadcast(tok_cum), F.col("source") == F.col("src_t"))
        .select("source", F.expr(f"stack({P}, {stack_args}) AS (i, v, n)"))
        .filter((F.col("v") > 0) & (F.col("n") > 0))
        .select(
            "source",
            "i",
            F.log(F.col("n").cast("double")).alias("x"),
            F.log(F.col("v").cast("double")).alias("y"),
        )
        # checkpoints below a source's first doc collapse to the same
        # (0,0) and are filtered; distinct thresholds can still yield
        # duplicate (n, v) prefixes on tiny sources — keep them (both
        # engines keep them identically; the fit is over the same bag).
    )
    # A source whose vocabulary saturates at the first checkpoint has
    # CONSTANT y: Spark's regr_r2 defines that as a perfect zero-slope
    # fit (1.0) while DuckDB's divides float dust by float dust and
    # returns summation-order NOISE — pin the constant-y case to 1.0
    # explicitly on both engines (min(y) = max(y) is an exact compare
    # of bit-identical doubles). The slope's dust rounds to ZERO, but
    # with a run-varying SIGN (DuckDB intermittently emits -0.0 there;
    # Python compares -0.0 == 0.0 so value asserts pass, but the
    # driver's string canonicalizer distinguishes them — caught by a
    # fresh-JVM pytest loop): `+ 0.0` normalizes any negative zero to
    # +0.0 under IEEE 754 on both engines.
    return (
        pts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr("regr_slope(y, x)").alias("s"),
            F.expr("regr_r2(y, x)").alias("r2"),
            F.min("y").alias("_ymn"),
            F.max("y").alias("_ymx"),
        )
        .select(
            "source",
            "n_points",
            (F.round("s", 6) + F.lit(0.0)).alias("heaps_beta"),
            F.when(F.col("_ymn") == F.col("_ymx"), F.lit(1.0))
            .otherwise(F.round("r2", 6))
            .alias("fit_r2"),
        )
    )


#: count-min sketch geometry (Cormode & Muthukrishnan 2005)
CMS_WIDTH = 256
CMS_DEPTH = 4
CMS_PROBE_TOP = 50


def countmin_cells(toks: DataFrame) -> DataFrame:
    """The D×W count-min grid as a keyed aggregate over (row, bucket)
    cells — works on a batch token stream or a live one (the state is
    D·W keys regardless of corpus size, which is why this sketch
    streams well)."""
    return (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("row"),
                            (
                                F.expr(H28_SPARK.format(c=f"concat('{j}:', token)"))
                                % CMS_WIDTH
                            ).alias("bucket"),
                        )
                        for j in range(CMS_DEPTH)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.row", "c.bucket")
        .agg(F.count(F.lit(1)).alias("cell_ct"))
    )


def countmin_probe(cells: DataFrame, probes: DataFrame) -> DataFrame:
    """Probe a count-min grid for (token, true_ct) rows: est = min
    over the D cells each token hashes to; emits est next to truth."""
    probe_cells = probes.select(
        "token",
        "true_ct",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (
                            F.expr(H28_SPARK.format(c=f"concat('{j}:', token)"))
                            % CMS_WIDTH
                        ).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    )
    return (
        probe_cells.join(
            F.broadcast(cells),
            (F.col("p.row") == F.col("row")) & (F.col("p.bucket") == F.col("bucket")),
        )
        .groupBy("token", "true_ct")
        .agg(F.min("cell_ct").alias("est_ct"))
        .select(
            "token",
            "true_ct",
            "est_ct",
            (F.col("est_ct") - F.col("true_ct")).alias("overestimate"),
        )
    )


def corpus_countmin_tokens(t: dict[str, DataFrame]) -> DataFrame:
    """Count-min sketch frequency estimation over the token stream —
    the bounded-memory, MERGEABLE counter that replaces vocab-sized
    exact counts at 100 TB (each partition builds a D×W integer grid,
    grids add elementwise). Built here as a keyed aggregate over
    (row, bucket) cells (D·W = 1024 rows regardless of corpus size),
    then probed for the top-50 exact-count tokens so the estimate sits
    NEXT TO the truth: est ≥ true always (count-min only
    overestimates), and the overflow column shows exactly what the
    1024-cell budget costs on this vocabulary.

    Everything md5-derived and integer — deterministic on both
    engines, including the probe set's (count, token) tie-breaks.
    """
    docs = t["documents"]
    toks = docs.select(F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token"))
    cells = countmin_cells(toks)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_ct"))
    w = Window.orderBy(F.desc("true_ct"), F.asc("token"))
    probes = (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CMS_PROBE_TOP)
        .select("token", "true_ct")
    )
    return countmin_probe(cells, probes)


#: RAG chunking geometry: token windows of CHUNK_TOKENS advancing by
#: CHUNK_STRIDE (25% overlap keeps retrieval context at boundaries)
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def corpus_chunk_sliding(t: dict[str, DataFrame]) -> DataFrame:
    """RAG-prep document chunking: split every document into
    overlapping token windows (64 tokens, stride 48) and emit each
    chunk with its token count and content hash — the unit a
    retrieval index embeds and a dedup pass runs over. Pure column
    algebra: tokenize once, then per-chunk ``slice`` on the
    materialized token array inside a transform over the chunk-start
    sequence — no Python, no shuffle before the explode, and the
    chunk hash makes downstream chunk-level exact dedup one keyed
    shuffle.

    Scale: fan-out is ceil(tokens/stride) rows per doc with
    O(CHUNK_TOKENS) work each — linear in corpus tokens; everything
    stays in whole-stage codegen.
    """
    docs = t["documents"]
    tk0 = docs.select(
        "doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    ).filter(F.size("tk") > 0)
    chunks = tk0.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(tk), {CHUNK_STRIDE}), "
                f"s -> struct(size(slice(tk, s, {CHUNK_TOKENS})) AS n, "
                f"array_join(slice(tk, s, {CHUNK_TOKENS}), ' ') AS txt))"
            )
        ).alias("chunk_idx", "c"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("c.n").cast("bigint").alias("n_tokens"),
        F.md5("c.txt").alias("chunk_hash"),
    )


#: RAKE stopword delimiter set — phrase boundaries (Rose et al. 2010).
RAKE_STOPWORDS = ("the", "a", "and", "or", "of", "in", "on", "to", "is", "for")
RAKE_TOP_K = 20


def text_rake_keyphrases(t: dict[str, DataFrame]) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): split each doc
    into candidate phrases at stopword boundaries, score each content
    token by degree/frequency over the whole corpus (degree = summed
    length of the phrases it appears in), score a phrase as the sum of
    its member-token scores, and emit the global top-K phrases — the
    corpus-level keyphrase profile a curation pipeline reads next to
    TF-IDF. INTEGER-exact: ``score_e4 = degree * 10000 div freq`` per
    token, phrase score a sum of those integers, so both engines rank
    identical integers (ties broken by phrase text — total order, so
    the LIMIT picks the same set).

    Scale: phrase segmentation is a per-doc running sum (window keyed
    by doc_id — one doc per sort group, never a global sort); token
    stats are one aggregation keyed by token; the stats join back to
    phrase members is keyed on token. Shuffles are |tokens|-sized,
    nothing pairwise. Final top-K is a TakeOrdered over the
    |distinct phrases| aggregate.
    """
    docs = t["documents"]
    stop_lit = ",".join(f"'{s}'" for s in RAKE_STOPWORDS)
    tok = (
        docs.select(
            "doc_id", F.posexplode(F.expr(TOKENS_SPARK.format(c="text"))).alias("pos", "token")
        )
        .withColumn("is_stop", F.expr(f"cast(token in ({stop_lit}) as int)"))
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    members = (
        tok.withColumn("phrase_id", F.sum("is_stop").over(wdoc))
        .filter(F.col("is_stop") == 0)
        .withColumn(
            "plen", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "phrase_id"))
        )
    )
    stats = members.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree")
    ).withColumn("tok_score_e4", F.expr("degree * 10000 div freq"))
    phrases = (
        members.join(stats.select("token", "tok_score_e4"), "token")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, token))), s -> s.token)"),
                " ",
            ).alias("phrase"),
            F.sum("tok_score_e4").alias("inst_score"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("inst_score").alias("score_e4"),
        )
        .orderBy(F.desc("score_e4"), F.asc("phrase"))
        .limit(RAKE_TOP_K)
    )


ORACLES: dict[str, str] = {
    "corpus_vocab_coverage": f"""
        WITH counts AS (
            SELECT token, COUNT(*)::BIGINT AS ct FROM (
                SELECT unnest({_TOKS_D}) AS token FROM documents
            ) GROUP BY token
        ), ranked AS (
            SELECT ct, row_number() OVER (ORDER BY ct DESC, token) AS rk
            FROM counts
        ), tot AS (
            SELECT COUNT(*)::BIGINT AS vocab_total, SUM(ct)::BIGINT AS tokens_total
            FROM counts
        )
        SELECT k.vocab_k::BIGINT AS vocab_k, tot.vocab_total,
               (SELECT COALESCE(SUM(ct), 0)::BIGINT FROM ranked
                WHERE rk <= k.vocab_k) AS covered_tokens,
               tot.tokens_total,
               ((1000 * (SELECT COALESCE(SUM(ct), 0) FROM ranked
                         WHERE rk <= k.vocab_k))
                // greatest(tot.tokens_total, 1))::BIGINT AS coverage_permille
        FROM (VALUES {", ".join(f"({k})" for k in VOCAB_COVERAGE_KS)}) k(vocab_k), tot
    """,
    "text_readability": f"""
        WITH counts AS (
            SELECT doc_id,
                   len({TOKENS_DUCK.format(c="text")})::BIGINT AS n_words,
                   GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences,
                   len(regexp_extract_all(lower(text), '[aeiou]+'))::BIGINT AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               (206835 - (1015 * n_words) // n_sentences
                       - (84600 * n_syllables) // GREATEST(n_words, 1))::BIGINT AS flesch_e3,
               ((390 * n_words) // n_sentences
                + (11800 * n_syllables) // GREATEST(n_words, 1) - 15590)::BIGINT AS fk_grade_e3
        FROM counts
    """,
    "corpus_simpson_diversity": f"""
        WITH toks AS (
            SELECT source, unnest({TOKENS_DUCK.format(c="text")}) AS token
            FROM documents
        ), counts AS (
            SELECT source, token, COUNT(*)::BIGINT AS ct
            FROM toks GROUP BY source, token
        ), agg AS (
            SELECT source, COUNT(*)::BIGINT AS vocab,
                   SUM(ct)::BIGINT AS n_tokens,
                   SUM(ct * (ct - 1))::BIGINT AS repeat_pairs
            FROM counts GROUP BY source
        )
        SELECT source, vocab, n_tokens,
               (CASE WHEN n_tokens >= 2 THEN
                    1000000 - (repeat_pairs::HUGEINT * 1000000)
                              // (n_tokens::HUGEINT * (n_tokens - 1))
                ELSE 0 END)::BIGINT AS simpson_ppm
        FROM agg
    """,
    "text_langid_ngram": f"""
        WITH tri AS (
            SELECT doc_id, lang, substr(lower(text), CAST(i AS INT), 3) AS g
            FROM documents,
                 UNNEST(range(1, GREATEST(length(lower(text)) - 2, 0) + 1)) AS r(i)
        ), profile AS (
            SELECT lang AS plang, g FROM (
                SELECT lang, g, COUNT(*) AS ct,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY COUNT(*) DESC, g ASC) AS rk
                FROM tri WHERE doc_id % 5 <> 0
                GROUP BY lang, g
            ) WHERE rk <= {LANGID_TOP}
        ), doc_tri AS (
            SELECT DISTINCT doc_id, g FROM tri
        ), scored AS (
            SELECT d.doc_id, p.plang, COUNT(*) AS hits
            FROM doc_tri d JOIN profile p ON d.g = p.g
            GROUP BY d.doc_id, p.plang
        ), best AS (
            SELECT doc_id, plang AS lang_pred, hits FROM (
                SELECT doc_id, plang, hits,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY hits DESC, plang ASC) AS rn
                FROM scored
            ) WHERE rn = 1
        )
        SELECT dd.doc_id, dd.lang AS lang_label,
               COALESCE(b.lang_pred, 'unk') AS lang_pred,
               COALESCE(b.hits, 0)::BIGINT AS hits
        FROM documents dd LEFT JOIN best b ON dd.doc_id = b.doc_id
    """,
    "text_rake_keyphrases": f"""
        WITH tok AS (
            SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS token
            FROM (SELECT doc_id, {TOKENS_DUCK.format(c="text")} AS tk FROM documents)
        ), flagged AS (
            SELECT doc_id, pos, token,
                   (token IN ({",".join("'" + s + "'" for s in RAKE_STOPWORDS)}))::INT AS is_stop
            FROM tok
        ), segmented AS (
            SELECT doc_id, pos, token, is_stop,
                   SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
            FROM flagged
        ), members AS (
            SELECT doc_id, pos, token, phrase_id,
                   COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
            FROM segmented WHERE is_stop = 0
        ), stats AS (
            SELECT token, ((SUM(plen) * 10000) // COUNT(*))::BIGINT AS tok_score_e4
            FROM members GROUP BY token
        ), phrases AS (
            SELECT m.doc_id, m.phrase_id,
                   string_agg(m.token, ' ' ORDER BY m.pos) AS phrase,
                   SUM(s.tok_score_e4)::BIGINT AS inst_score
            FROM members m JOIN stats s ON m.token = s.token
            GROUP BY m.doc_id, m.phrase_id
        )
        SELECT phrase, COUNT(*)::BIGINT AS n_occurrences,
               MAX(inst_score)::BIGINT AS score_e4
        FROM phrases GROUP BY phrase
        ORDER BY score_e4 DESC, phrase ASC LIMIT {RAKE_TOP_K}
    """,
    "corpus_length_percentiles": """
        SELECT source, COUNT(*) AS n_docs,
               quantile_cont(n_chars, 0.1) AS p10,
               quantile_cont(n_chars, 0.5) AS p50,
               quantile_cont(n_chars, 0.9) AS p90,
               quantile_cont(n_chars, 0.99) AS p99
        FROM documents GROUP BY source
    """,
    "corpus_bpe_pair_counts": f"""
        WITH words AS (
            SELECT unnest({TOKENS_DUCK.format(c="text")}) AS w FROM documents
        ), vocab AS (
            SELECT w, COUNT(*) AS ct FROM words GROUP BY w
        ), pairs AS (
            SELECT unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair,
                   ct
            FROM vocab WHERE length(w) >= 2
        ), agg AS (
            SELECT pair, SUM(ct)::BIGINT AS ct FROM pairs GROUP BY pair
        )
        SELECT pair, ct, rank FROM (
            SELECT pair, ct,
                   row_number() OVER (ORDER BY ct DESC, pair ASC)::BIGINT AS rank
            FROM agg
        ) WHERE rank <= {BPE_PAIR_TOP_K}
    """,
    "corpus_heavy_tokens": f"""
        WITH tok AS (
            SELECT unnest({TOKENS_DUCK.format(c='text')}) AS token FROM documents
        ), tot AS (
            SELECT COUNT(*) AS total FROM tok
        ), c AS (
            SELECT token, COUNT(*)::BIGINT AS ct FROM tok GROUP BY token
        )
        SELECT token, ct, (ct * 1000 // total)::BIGINT AS share_permille
        FROM c, tot WHERE ct * {HH_K} > total
    """,
    "doc_quality_classifier": f"""
        WITH h AS (
            SELECT doc_id, ({H28_DUCK.format(c='token')} % {HASH_DIM}) AS dim
            FROM (SELECT doc_id, unnest({TOKENS_DUCK.format(c='text')}) AS token
                  FROM documents)
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
               SUM({_CLF_W.format(d='dim')})::BIGINT AS logit,
               (SUM({_CLF_W.format(d='dim')}) > 0)::BIGINT AS keep
        FROM h GROUP BY doc_id
    """,
    "corpus_inverted_index": f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, unnest({TOKENS_DUCK.format(c='text')}) AS token
            FROM documents
        )
        SELECT token, COUNT(*)::BIGINT AS df,
               array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',') AS postings
        FROM tok GROUP BY token
        HAVING COUNT(*) >= 5
    """,
    "text_span_dedup": """
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        spans AS (
            SELECT doc_id, u.i AS span_idx,
                   array_to_string(tk[(u.i * 10 + 1):(u.i * 10 + 10)], ' ') AS span
            FROM d, UNNEST(range(CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS u(i)
        ),
        kept AS (
            SELECT doc_id, span_idx, span,
                   row_number() OVER (PARTITION BY span
                                      ORDER BY doc_id ASC, span_idx ASC) AS rn
            FROM spans
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_kept_spans,
               string_agg(span, ' ' ORDER BY span_idx ASC) AS clean_text
        FROM kept WHERE rn = 1
        GROUP BY doc_id
    """,
    "doc_gopher_rules": f"""
        WITH d AS (
            SELECT doc_id,
                   len({TOKENS_DUCK.format(c='text')})::BIGINT AS n_words,
                   list_sum(list_transform({TOKENS_DUCK.format(c='text')},
                                           x -> length(x)))::BIGINT AS tok_chars,
                   len(list_filter({TOKENS_DUCK.format(c='text')},
                                   x -> regexp_matches(x, '[a-z]')))::BIGINT AS alpha_words,
                   len(list_distinct(list_filter({TOKENS_DUCK.format(c='text')},
                                   x -> x IN ({_stop_list_sql()}))))::BIGINT AS distinct_stops,
                   CAST((length(text) - length(replace(text, '#', '')))
                        + (length(text) - length(replace(text, '...', ''))) / 3
                        AS BIGINT) AS symbol_hits
            FROM documents
        ), r AS (
            SELECT doc_id, n_words,
                   CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END::BIGINT AS r_word_count,
                   CASE WHEN n_words > 0 AND (tok_chars * 1000) // n_words BETWEEN 3000 AND 10000
                        THEN 1 ELSE 0 END::BIGINT AS r_mean_word_len,
                   CASE WHEN n_words > 0 AND (alpha_words * 1000) // n_words >= 800
                        THEN 1 ELSE 0 END::BIGINT AS r_alpha_ratio,
                   CASE WHEN distinct_stops >= 2 THEN 1 ELSE 0 END::BIGINT AS r_stopwords,
                   CASE WHEN n_words > 0 AND (symbol_hits * 1000) // n_words < 100
                        THEN 1 ELSE 0 END::BIGINT AS r_symbol_ratio
            FROM d
        )
        SELECT doc_id, n_words, r_word_count, r_mean_word_len, r_alpha_ratio,
               r_stopwords, r_symbol_ratio,
               (r_word_count * r_mean_word_len * r_alpha_ratio
                * r_stopwords * r_symbol_ratio)::BIGINT AS keep
        FROM r
    """,
    "traffic_keyword_count": f"""
        SELECT keyword, COUNT(*) AS keyword_count FROM (
            SELECT unnest({_TOKS_D}) AS keyword FROM documents
        ) GROUP BY keyword
    """,
    "doc_token_count": f"""
        SELECT doc_id,
               len({_TOKS_D})::BIGINT AS n_tokens_ws,
               len(regexp_extract_all(lower(text), '{BPE_RE}'))::BIGINT AS n_tokens_bpe
        FROM documents
    """,
    "text_quality_score": f"""
        WITH d AS (
            SELECT doc_id, n_chars,
                   len({_TOKS_D})::BIGINT AS n_tokens,
                   len(list_filter({_TOKS_D}, x -> x IN ({_STOPS})))::BIGINT AS stop_hits,
                   coalesce(list_sum(list_transform({_TOKS_D}, x -> length(x))), 0)::BIGINT AS tok_chars
            FROM documents
        )
        SELECT doc_id, n_chars, n_tokens,
               CASE WHEN n_tokens > 0 THEN (tok_chars * 1000) // n_tokens ELSE 0 END AS avg_tok_len_permille,
               CASE WHEN n_tokens > 0 THEN (stop_hits * 1000) // n_tokens ELSE 0 END AS stop_ratio_permille,
               (CASE WHEN n_tokens >= 10 AND (stop_hits * 1000) // n_tokens >= 20 THEN 1 ELSE 0 END)::BIGINT AS keep
        FROM d
    """,
    "text_lang_id": f"""
        WITH d AS (
            SELECT doc_id, lang AS lang_label,
                   len({_TOKS_D})::BIGINT AS n_tokens,
                   len(list_filter({_TOKS_D}, x -> x IN ({_STOPS})))::BIGINT AS stop_hits
            FROM documents
        )
        SELECT doc_id, lang_label,
               CASE WHEN n_tokens > 0 AND (stop_hits * 1000) // n_tokens >= 50 THEN 'en' ELSE 'other' END AS lang_pred,
               stop_hits, n_tokens
        FROM d
    """,
    "corpus_report": f"""
        WITH d AS (
            SELECT source,
                   len({_TOKS_D})::BIGINT AS n_tokens,
                   len(list_filter({_TOKS_D}, x -> x IN ({_STOPS})))::BIGINT AS stop_hits
            FROM documents
        ), k AS (
            SELECT source, n_tokens,
                   (CASE WHEN n_tokens >= 10 AND (stop_hits * 1000) // n_tokens >= 20
                         THEN 1 ELSE 0 END)::BIGINT AS keep
            FROM d
        )
        SELECT source, COUNT(*) AS n_docs,
               SUM(n_tokens)::BIGINT AS total_tokens,
               SUM(keep)::BIGINT AS kept_ct,
               ((SUM(n_tokens) * 1000) // COUNT(*))::BIGINT AS avg_tokens_permille
        FROM k GROUP BY source
    """,
    "text_feature_hashing": f"""
        SELECT doc_id,
               ({H28_DUCK.format(c='token')} % {HASH_DIM})::BIGINT AS dim,
               COUNT(*) AS weight
        FROM (SELECT doc_id, unnest({_TOKS_D}) AS token FROM documents)
        GROUP BY doc_id, dim
    """,
    "corpus_drift_psi": f"""
        WITH counts AS (
            SELECT source, least(n_chars // {PSI_BUCKET_CHARS}, {PSI_BUCKETS - 1}) AS bucket,
                   COUNT(*) AS ct
            FROM documents GROUP BY source, bucket
        ), dense AS (
            SELECT s.source, b.bucket, COALESCE(c.ct, 0) + 1 AS ct
            FROM (SELECT DISTINCT source FROM counts) s
            CROSS JOIN (SELECT unnest(generate_series(0, {PSI_BUCKETS - 1})) AS bucket) b
            LEFT JOIN counts c ON c.source = s.source AND c.bucket = b.bucket
        ), src_tot AS (
            SELECT source, SUM(ct) AS s_tot FROM dense GROUP BY source
        ), all_b AS (
            SELECT bucket, SUM(ct) AS b_ct FROM dense GROUP BY bucket
        ), g AS (
            SELECT SUM(ct)::DOUBLE AS g_tot FROM dense
        )
        SELECT d.source,
               round(SUM((d.ct / t.s_tot - a.b_ct / g.g_tot) *
                         ln((d.ct / t.s_tot) / (a.b_ct / g.g_tot))), 6) AS psi
        FROM dense d
        JOIN src_tot t ON d.source = t.source
        JOIN all_b a ON d.bucket = a.bucket, g
        GROUP BY d.source
    """,
    "text_ccnet_buckets": f"""
        WITH tk0 AS (
            SELECT doc_id, lang, {_TOKS_D} AS tk FROM documents
        ), bg AS (
            SELECT doc_id, lang,
                   unnest(CASE WHEN len(tk) >= 2
                          THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
                          ELSE [] END) AS bigram
            FROM tk0
        ), model AS (
            SELECT lang, bigram, COUNT(*) AS bg_ct FROM bg GROUP BY lang, bigram
        ), ctx AS (
            SELECT lang, split_part(bigram, ' ', 1) AS w1, SUM(bg_ct) AS ctx_ct
            FROM model GROUP BY lang, w1
        ), vocab AS (
            SELECT lang, COUNT(DISTINCT tok) AS v
            FROM (SELECT lang, unnest(tk) AS tok FROM tk0) GROUP BY lang
        ), scored AS (
            SELECT m.lang, m.bigram,
                   ln((m.bg_ct + 1)::DOUBLE / (c.ctx_ct + v.v)::DOUBLE) AS logp
            FROM model m
            JOIN ctx c ON m.lang = c.lang AND split_part(m.bigram, ' ', 1) = c.w1
            JOIN vocab v ON m.lang = v.lang
        ), nll AS (
            SELECT bg.doc_id, round(-avg(s.logp), 6) AS avg_nll
            FROM bg JOIN scored s ON bg.lang = s.lang AND bg.bigram = s.bigram
            GROUP BY bg.doc_id
        ), ranked AS (
            SELECT n.doc_id, d.lang, n.avg_nll,
                   ntile(3) OVER (PARTITION BY d.lang ORDER BY n.avg_nll, n.doc_id) AS bucket
            FROM nll n JOIN documents d ON n.doc_id = d.doc_id
        )
        SELECT doc_id, lang, avg_nll, bucket::BIGINT AS bucket,
               CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket_label
        FROM ranked
    """,
    "corpus_tokenizer_fertility": f"""
        WITH c AS (
            SELECT lang, source,
                   len({_TOKS_D}) AS ws,
                   len(regexp_extract_all(lower(text), '{BPE_RE}')) AS bpe
            FROM documents
        )
        SELECT lang, source, SUM(ws)::BIGINT AS n_words, SUM(bpe)::BIGINT AS n_subtokens,
               ((SUM(bpe) * 1000) // SUM(ws))::BIGINT AS fertility_permille
        FROM c GROUP BY lang, source
    """,
    "doc_perplexity_bigram": f"""
        WITH tk0 AS (
            SELECT doc_id, lang, {_TOKS_D} AS tk FROM documents
        ), bg AS (
            SELECT doc_id, lang,
                   unnest(CASE WHEN len(tk) >= 2
                          THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
                          ELSE [] END) AS bigram
            FROM tk0
        ), model AS (
            SELECT lang, bigram, COUNT(*) AS bg_ct FROM bg GROUP BY lang, bigram
        ), ctx AS (
            SELECT lang, split_part(bigram, ' ', 1) AS w1, SUM(bg_ct) AS ctx_ct
            FROM model GROUP BY lang, w1
        ), vocab AS (
            SELECT lang, COUNT(DISTINCT tok) AS v
            FROM (SELECT lang, unnest(tk) AS tok FROM tk0) GROUP BY lang
        ), scored AS (
            SELECT m.lang, m.bigram,
                   ln((m.bg_ct + 1)::DOUBLE / (c.ctx_ct + v.v)::DOUBLE) AS logp
            FROM model m
            JOIN ctx c ON m.lang = c.lang AND split_part(m.bigram, ' ', 1) = c.w1
            JOIN vocab v ON m.lang = v.lang
        )
        SELECT bg.doc_id, COUNT(*)::BIGINT AS n_bigrams,
               round(-avg(s.logp), 6) AS avg_nll
        FROM bg JOIN scored s ON bg.lang = s.lang AND bg.bigram = s.bigram
        GROUP BY bg.doc_id
    """,
    "corpus_hapax_share": f"""
        WITH toks AS (
            SELECT source, unnest({_TOKS_D}) AS token FROM documents
        ), counts AS (
            SELECT source, token, COUNT(*) AS ct FROM toks GROUP BY source, token
        )
        SELECT source, COUNT(*) AS vocab,
               SUM((ct = 1)::BIGINT)::BIGINT AS hapax,
               ((SUM((ct = 1)::BIGINT) * 1000) // COUNT(*))::BIGINT AS hapax_permille
        FROM counts GROUP BY source
    """,
    # text_zipf_fit's full-vocab oracle retired with the query (r10) —
    # the declared Zipf fit is text_zipf_topn_fit below.
    "text_zipf_topn_fit": f"""
        WITH toks AS (
            SELECT source, unnest({_TOKS_D}) AS token FROM documents
        ), counts AS (
            SELECT source, token, COUNT(*) AS ct FROM toks GROUP BY source, token
        ), fullv AS (
            SELECT source, COUNT(*) AS vocab FROM counts GROUP BY source
        ), sliced AS (
            SELECT source, ct,
                   row_number() OVER (PARTITION BY source ORDER BY ct DESC, token) AS rk
            FROM counts
            QUALIFY rk <= 25
        )
        SELECT s.source, f.vocab, COUNT(*) AS n_top,
               round(regr_slope(ln(s.ct::DOUBLE), ln(s.rk)), 6) AS zipf_slope,
               round(regr_r2(ln(s.ct::DOUBLE), ln(s.rk)), 6) AS fit_r2
        FROM sliced s JOIN fullv f USING (source)
        GROUP BY s.source, f.vocab
    """,
    "corpus_heaps_law": f"""
        WITH toks AS (
            SELECT source, doc_id, unnest({_TOKS_D}) AS token FROM documents
        ), first_occ AS (
            SELECT source, token, MIN(doc_id) AS fd FROM toks GROUP BY source, token
        ), per_doc AS (
            SELECT source, doc_id, len({_TOKS_D}) AS ntok FROM documents
        ), mx AS (
            SELECT source, MAX(doc_id) AS mxd FROM per_doc GROUP BY source
        ), grid AS (
            SELECT m.source, m.mxd, g.i FROM mx m, range(1, 17) g(i)
        ), v AS (
            SELECT grid.source, grid.i, COUNT(*) AS v
            FROM grid JOIN first_occ f
              ON f.source = grid.source AND f.fd * 16 <= grid.mxd * grid.i
            GROUP BY grid.source, grid.i
        ), n AS (
            SELECT grid.source, grid.i, SUM(d.ntok) AS n
            FROM grid JOIN per_doc d
              ON d.source = grid.source AND d.doc_id * 16 <= grid.mxd * grid.i
            GROUP BY grid.source, grid.i
        ), pts AS (
            SELECT v.source, ln(n.n::DOUBLE) AS x, ln(v.v::DOUBLE) AS y
            FROM v JOIN n ON v.source = n.source AND v.i = n.i
            WHERE v.v > 0 AND n.n > 0
        )
        SELECT source, COUNT(*) AS n_points,
               round(regr_slope(y, x), 6) + 0.0 AS heaps_beta,
               CASE WHEN MIN(y) = MAX(y) THEN 1.0
                    ELSE round(regr_r2(y, x), 6) END AS fit_r2
        FROM pts GROUP BY source
    """,
    "corpus_token_gini": f"""
        WITH toks AS (
            SELECT source, unnest({_TOKS_D}) AS token FROM documents
        ), counts AS (
            SELECT source, token, COUNT(*) AS ct FROM toks GROUP BY source, token
        ), ranked AS (
            SELECT source, ct,
                   row_number() OVER (PARTITION BY source ORDER BY ct, token) AS rk
            FROM counts
        )
        SELECT source, COUNT(*) AS vocab, SUM(ct)::BIGINT AS n_tokens,
               ((1000 * (2 * SUM(rk * ct) - (COUNT(*) + 1) * SUM(ct)))
                // (COUNT(*) * SUM(ct)))::BIGINT AS gini_permille
        FROM ranked GROUP BY source
    """,
    "corpus_countmin_tokens": f"""
        WITH toks AS (
            SELECT unnest({_TOKS_D}) AS token FROM documents
        ), cells AS (
            SELECT j AS row,
                   {H28_DUCK.format(c="(j || ':' || token)")} % {CMS_WIDTH} AS bucket,
                   COUNT(*) AS cell_ct
            FROM toks, range({CMS_DEPTH}) r(j)
            GROUP BY 1, 2
        ), exact AS (
            SELECT token, COUNT(*) AS true_ct FROM toks GROUP BY token
        ), probes AS (
            SELECT token, true_ct FROM (
                SELECT token, true_ct,
                       row_number() OVER (ORDER BY true_ct DESC, token) AS rk
                FROM exact
            ) WHERE rk <= {CMS_PROBE_TOP}
        ), pc AS (
            SELECT p.token, p.true_ct, j AS row,
                   {H28_DUCK.format(c="(j || ':' || p.token)")} % {CMS_WIDTH} AS bucket
            FROM probes p, range({CMS_DEPTH}) r(j)
        )
        SELECT pc.token, pc.true_ct, MIN(c.cell_ct)::BIGINT AS est_ct,
               (MIN(c.cell_ct) - pc.true_ct)::BIGINT AS overestimate
        FROM pc JOIN cells c ON pc.row = c.row AND pc.bucket = c.bucket
        GROUP BY pc.token, pc.true_ct
    """,
    "corpus_chunk_sliding": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), nz AS (
            SELECT doc_id, tk FROM tk0 WHERE len(tk) > 0
        ), st AS (
            SELECT doc_id, tk, unnest(range(1, len(tk) + 1, {CHUNK_STRIDE})) AS s
            FROM nz
        )
        SELECT doc_id,
               ((s - 1) // {CHUNK_STRIDE})::BIGINT AS chunk_idx,
               len(tk[s:s + {CHUNK_TOKENS - 1}])::BIGINT AS n_tokens,
               md5(array_to_string(tk[s:s + {CHUNK_TOKENS - 1}], ' ')) AS chunk_hash
        FROM st
    """,
    "doc_perplexity_heldout": f"""
        WITH tk_tr AS (
            SELECT doc_id, lang, {_TOKS_D} AS tk FROM documents WHERE doc_id % 5 <> 0
        ), bg_tr AS (
            SELECT lang,
                   unnest(CASE WHEN len(tk) >= 2
                          THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
                          ELSE [] END) AS bigram
            FROM tk_tr
        ), model AS (
            SELECT lang, bigram, COUNT(*) AS bg_ct FROM bg_tr GROUP BY lang, bigram
        ), ctx AS (
            SELECT lang, split_part(bigram, ' ', 1) AS w1, COUNT(*) AS ctx_ct
            FROM bg_tr GROUP BY 1, 2
        ), vocab AS (
            SELECT lang, COUNT(DISTINCT tok) AS v
            FROM (SELECT lang, unnest(tk) AS tok FROM tk_tr) GROUP BY lang
        ), sm AS (
            SELECT m.lang, m.bigram,
                   ln((m.bg_ct + 1)::DOUBLE / (c.ctx_ct + v.v)::DOUBLE) AS logp
            FROM model m
            JOIN ctx c ON m.lang = c.lang AND split_part(m.bigram, ' ', 1) = c.w1
            JOIN vocab v ON m.lang = v.lang
        ), bg_te AS (
            SELECT doc_id, lang,
                   unnest(CASE WHEN len(tk) >= 2
                          THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
                          ELSE [] END) AS bigram
            FROM (SELECT doc_id, lang, {_TOKS_D} AS tk FROM documents WHERE doc_id % 5 = 0)
        ), j AS (
            SELECT b.doc_id,
                   COALESCE(sm.logp,
                            ln(1.0 / (COALESCE(c2.ctx_ct, 0) + v.v)::DOUBLE)) AS lp
            FROM bg_te b
            LEFT JOIN sm ON b.lang = sm.lang AND b.bigram = sm.bigram
            LEFT JOIN ctx c2 ON b.lang = c2.lang
                            AND split_part(b.bigram, ' ', 1) = c2.w1
            JOIN vocab v ON b.lang = v.lang
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
               round(-avg(lp), 6) AS avg_nll_heldout
        FROM j GROUP BY doc_id
    """,
    "doc_perplexity_kneser_ney": f"""
        WITH tk0 AS (
            SELECT doc_id, lang, {_TOKS_D} AS tk FROM documents
        ), bg AS (
            SELECT doc_id, lang,
                   unnest(CASE WHEN len(tk) >= 2
                          THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
                          ELSE [] END) AS bigram
            FROM tk0
        ), model AS (
            SELECT lang, bigram, COUNT(*) AS bg_ct FROM bg GROUP BY lang, bigram
        ), parts AS (
            SELECT lang, bigram, bg_ct,
                   split_part(bigram, ' ', 1) AS w1,
                   split_part(bigram, ' ', 2) AS w2
            FROM model
        ), ctx AS (
            SELECT lang, w1, SUM(bg_ct) AS ctx_ct, COUNT(*) AS n1f
            FROM parts GROUP BY lang, w1
        ), cont AS (
            SELECT lang, w2, COUNT(*) AS n1b FROM parts GROUP BY lang, w2
        ), btypes AS (
            SELECT lang, COUNT(*) AS btypes FROM model GROUP BY lang
        ), scored AS (
            SELECT p.lang, p.bigram,
                   ln((greatest(p.bg_ct::DOUBLE - {KN_DISCOUNT}, 0.0)
                       + {KN_DISCOUNT} * c.n1f::DOUBLE
                         * (k.n1b::DOUBLE / b.btypes::DOUBLE))
                      / c.ctx_ct::DOUBLE) AS logp
            FROM parts p
            JOIN ctx c ON p.lang = c.lang AND p.w1 = c.w1
            JOIN cont k ON p.lang = k.lang AND p.w2 = k.w2
            JOIN btypes b ON p.lang = b.lang
        )
        SELECT bg.doc_id, COUNT(*)::BIGINT AS n_bigrams,
               round(-avg(s.logp), 6) AS avg_nll_kn
        FROM bg JOIN scored s ON bg.lang = s.lang AND bg.bigram = s.bigram
        GROUP BY bg.doc_id
    """,
    "corpus_pmi_bigrams": f"""
        WITH tk0 AS (
            SELECT {_TOKS_D} AS tk FROM documents
        ), tok AS (
            SELECT unnest(tk) AS tok FROM tk0
        ), uni AS (
            SELECT tok, COUNT(*) AS ct FROM tok GROUP BY tok
        ), n_tokens AS (
            SELECT SUM(ct)::BIGINT AS n_tokens FROM uni
        ), bg AS (
            SELECT unnest(CASE WHEN len(tk) >= 2
                          THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
                          ELSE [] END) AS bigram
            FROM tk0
        ), pair_all AS (
            SELECT bigram, COUNT(*) AS pair_ct FROM bg GROUP BY bigram
        ), m_pairs AS (
            SELECT SUM(pair_ct)::BIGINT AS m_pairs FROM pair_all
        )
        SELECT split_part(p.bigram, ' ', 1) AS w1,
               split_part(p.bigram, ' ', 2) AS w2,
               p.pair_ct, u1.ct AS ct1, u2.ct AS ct2,
               round(ln(p.pair_ct::DOUBLE) - ln(m.m_pairs::DOUBLE)
                     - ln(u1.ct::DOUBLE) - ln(u2.ct::DOUBLE)
                     + ln(n.n_tokens::DOUBLE) + ln(n.n_tokens::DOUBLE), 6) AS pmi
        FROM pair_all p
        JOIN uni u1 ON u1.tok = split_part(p.bigram, ' ', 1)
        JOIN uni u2 ON u2.tok = split_part(p.bigram, ' ', 2)
        CROSS JOIN n_tokens n CROSS JOIN m_pairs m
        WHERE p.pair_ct >= {PMI_MIN_PAIR_CT}
    """,
    "text_bigram_topk": f"""
        WITH tk0 AS (
            SELECT lang, {_TOKS_D} AS tk FROM documents
        ), bg AS (
            SELECT lang,
                   unnest(CASE WHEN len(tk) >= 2
                          THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
                          ELSE [] END) AS bigram
            FROM tk0
        ), counts AS (
            SELECT lang, bigram, COUNT(*) AS ct FROM bg GROUP BY lang, bigram
        )
        SELECT lang, bigram, ct, rank FROM (
            SELECT lang, bigram, ct,
                   row_number() OVER (PARTITION BY lang ORDER BY ct DESC, bigram ASC)::BIGINT AS rank
            FROM counts
        ) WHERE rank <= {BIGRAM_TOP_K}
    """,
    "corpus_tfidf_top_terms": f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOKS_D}) AS token FROM documents
        ), tok2 AS (
            SELECT * FROM tok WHERE token NOT IN ({_STOPS})
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM tok2 GROUP BY doc_id, token
        ), dfreq AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok2 GROUP BY token
        ), scored AS (
            SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
                   (tf.tf * 1000000) // dfreq.df AS score
            FROM tf JOIN dfreq USING (token)
        )
        SELECT doc_id, token, tf, df, score, rank FROM (
            SELECT doc_id, token, tf, df, score,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC)::BIGINT AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_TOP_K}
    """,
    "text_doc_fingerprint": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(tk) >= 3
                          THEN list_distinct(list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')))
                          ELSE [] END) AS s
            FROM toks
        ), allg AS (
            SELECT doc_id, NULL AS s FROM toks
            UNION ALL SELECT doc_id, s FROM sh
        ), agg AS (
            SELECT doc_id,
                   coalesce(SUM({H60_DUCK.format(c='s')} % {MOD_P}) % {MOD_P}, 0)::BIGINT AS fingerprint,
                   COUNT(s) AS n_shingles
            FROM allg GROUP BY doc_id
        )
        SELECT doc_id, fingerprint, n_shingles FROM agg
    """,
}


def text_ccnet_buckets(t: dict[str, DataFrame]) -> DataFrame:
    """CCNet head/middle/tail quality bucketing (Wenzek et al., LREC
    2020 §4.4): per language, rank documents by LM perplexity and split
    into terciles — "head" (lowest perplexity, cleanest) feeds
    pretraining first, "tail" is dropped or downweighted. Scoring
    reuses the corpus-trained Laplace bigram LM
    (:func:`doc_perplexity_bigram`), so the whole pipeline stays
    bit-reproducible; the tercile is ``ntile(3)`` per language ordered
    by (avg_nll, doc_id) — identical semantics in Spark and DuckDB.

    Scale: the model fit is vocab-sized keyed aggregation; scoring is
    one keyed join; the tercile is the exact NTILE closed form
    (``ntile_expr``) over a DISTRIBUTED per-language rank — the earlier
    ``ntile(3)`` window sorted each language partition through one
    reducer (a handful of languages ⇒ effectively the whole corpus
    through a handful of reducers; ntile has no WindowGroupLimit
    pushdown). The rank comes from ``prefix_sum_per_key`` bucketed on
    avg_nll with doc_id as the tie column (equal scores share a bucket,
    so the composite rank is exact); per-language totals join back
    keyed. Bucket-for-bucket identical to the window form (law-pinned),
    so the output stays hash-verifiable — CCNet's sampled-cutoff
    approximation is not needed to scale.
    """
    docs = t["documents"]
    scored = score_bigram_nll(doc_bigrams(docs), bigram_lm_table(docs))
    ranked = scored.join(docs.select("doc_id", "lang"), "doc_id")
    return ccnet_tercile_assign(ranked)


def ccnet_tercile_assign(ranked: DataFrame) -> DataFrame:
    """The CCNet tercile over (doc_id, lang, avg_nll) rows via the
    distributed rank + NTILE closed form — shared by the batch
    ``text_ccnet_buckets`` and the streaming ``flow_ccnet_gate`` poll
    step (the input there is a scored memory table; all internal joins
    rename their keys, so the shared-lineage resolution holds). The
    rank's bucket width is the IN-PLAN auto width (r9 ADVICE #3): a
    1-row broadcast stats aggregate over the scored rows, re-derived
    per execution — so the streaming poll buckets against CURRENT
    nll stats instead of a width frozen at pipeline-build time, and
    the batch plan avoids an eager driver re-run of the expensive
    scoring plan just for (min, max, count)."""
    from .relational import ntile_expr, prefix_sum_per_key

    # r13: pin the scored input ONCE. This function references `ranked`
    # from five plan positions (the in-plan stats aggregate, the
    # prefix-sum's bucket/offset legs and their join, and n_by_lang),
    # and Catalyst inlines each reference as a full plan-tree copy — for
    # the batch caller that re-executed the whole bigram-LM scoring
    # plan ~5× (116 Exchanges at sf0.1); for the streaming poll it
    # re-joined the memory table per copy. The frame is |docs| rows of
    # (doc_id, lang, avg_nll) — linear in the corpus, the same
    # materialization CCNet itself performs between scoring and
    # bucketing.
    ranked = ranked.localCheckpoint()
    ranked = ranked.withColumn("_one", F.lit(1).cast("bigint"))
    rk = prefix_sum_per_key(
        ranked, ["lang"], "avg_nll", "_one", "_rk", bucket_size="inplan",
        tie_cols=["doc_id"],
    ).drop("_one")
    n_by_lang = ranked.groupBy(F.col("lang").alias("_nl_lang")).agg(
        F.count(F.lit(1)).alias("_n_lang")
    )
    return (
        rk.join(n_by_lang, F.col("lang") == F.col("_nl_lang"))
        .select(
            "doc_id",
            "lang",
            "avg_nll",
            ntile_expr("_rk", "_n_lang", 3).alias("bucket"),
        )
    ).withColumn(
        "bucket_label",
        F.element_at(F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), F.col("bucket").cast("int")),
    )


def corpus_tokenizer_fertility(t: dict[str, DataFrame]) -> DataFrame:
    """Tokenizer fertility — subword tokens emitted per whitespace word,
    the standard multilingual-tokenizer efficiency diagnostic (high
    fertility ⇒ the tokenizer fragments that language and its docs pay
    more sequence length per word). Per (lang, source): total BPE-ish
    tokens, total whitespace words, integer-permille fertility ratio.
    Map-only token counting + one keyed aggregation.
    """
    docs = t["documents"]
    counted = docs.select(
        "lang",
        "source",
        F.size(F.expr(TOKENS_SPARK.format(c="text"))).cast("bigint").alias("ws"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{BPE_RE}', 0)"))
        .cast("bigint")
        .alias("bpe"),
    )
    return (
        counted.groupBy("lang", "source")
        .agg(
            F.sum("ws").alias("n_words"),
            F.sum("bpe").alias("n_subtokens"),
        )
        .select(
            "lang",
            "source",
            "n_words",
            "n_subtokens",
            F.expr("(n_subtokens * 1000) DIV n_words").alias("fertility_permille"),
        )
    )


BUILDERS = {
    "corpus_vocab_coverage": corpus_vocab_coverage,
    "doc_gopher_rules": rules_gopher_quality,
    "text_ccnet_buckets": text_ccnet_buckets,
    "corpus_tokenizer_fertility": corpus_tokenizer_fertility,
    "traffic_keyword_count": traffic_keyword_count,
    "doc_token_count": doc_token_count,
    "text_quality_score": text_quality_score,
    "text_lang_id": text_lang_id,
    "text_doc_fingerprint": doc_fingerprint,
    "text_clean_manifest": corpus_clean_manifest,  # oracle in dedup.py
    "text_bigram_topk": bigram_topk,
    "doc_perplexity_bigram": doc_perplexity_bigram,
    "doc_perplexity_kneser_ney": doc_perplexity_kneser_ney,
    "doc_perplexity_heldout": doc_perplexity_heldout,
    "corpus_drift_psi": corpus_drift_psi,
    "corpus_tfidf_top_terms": corpus_tfidf_top_terms,
    "corpus_inverted_index": corpus_inverted_index,
    "text_rake_keyphrases": text_rake_keyphrases,
    "text_langid_ngram": text_langid_ngram,
    "corpus_heavy_tokens": corpus_heavy_tokens,
    "corpus_chunk_sliding": corpus_chunk_sliding,
    "corpus_countmin_tokens": corpus_countmin_tokens,
    "corpus_token_gini": corpus_token_gini,
    "text_readability": text_readability,
    "corpus_simpson_diversity": corpus_simpson_diversity,
    # text_zipf_fit retired from the registry r10 (kept above as the
    # test-only convergence baseline for the declared top-N fit)
    "text_zipf_topn_fit": text_zipf_topn_fit,
    "corpus_heaps_law": corpus_heaps_law,
    "corpus_hapax_share": corpus_hapax_share,
    "doc_quality_classifier": doc_quality_classifier,
    "text_feature_hashing": feature_hashing,
    "corpus_report": corpus_report,
    "text_span_dedup": text_span_dedup,
    "corpus_bpe_pair_counts": corpus_bpe_pair_counts,
    "corpus_length_percentiles": corpus_length_percentiles,
    "corpus_pmi_bigrams": corpus_pmi_bigrams,
}

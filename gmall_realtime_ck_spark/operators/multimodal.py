"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (training-data-pipeline operators, BASELINE.json north star).

Design for 100 TB: media bytes ride in a ``binary`` column next to a
metadata struct; all pipeline decisions (routing, filtering, sampling)
happen on metadata columns JVM-side so the bytes are only touched by
the Arrow-batched decode/feature UDFs — and only AFTER filters prune
the scan. Parquet stores binary columns contiguously per row-group, so
column pruning keeps metadata-only queries cheap.

The actual codec calls (PIL/libsndfile/ffmpeg) are NOT available in
this container: ``decode_image``/``decode_audio`` raise
NotImplementedError at the codec seam, while the deterministic fake
(``fake_decode_rgb``) keeps the full Spark plumbing — schema,
partitioning, batch iteration, UDF signatures — real and testable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup
from .dedup import (
    SIMHASH_BAND_BITS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_PAIR_HAMMING_MAX,
)
from .text import H60_DUCK
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: media row: bytes + typed metadata (mime decides the decode route)
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("feat_dim", IntegerType()),
        StructField("checksum", LongType()),
        StructField("mean_byte_milli", LongType()),
    ]
)


def decode_image(payload: bytes, mime: str):
    """Codec seam — real deployments plug PIL/turbojpeg here."""
    raise NotImplementedError(
        "image codecs are not installed in this environment; "
        "use fake_decode_rgb for plumbing tests"
    )


def decode_audio(payload: bytes, mime: str):
    """Codec seam — real deployments plug libsndfile/ffmpeg here."""
    raise NotImplementedError(
        "audio codecs are not installed in this environment; "
        "use fake_decode_rgb for plumbing tests"
    )


def fake_decode_rgb(payload: bytes) -> list[int]:
    """Deterministic stand-in decoder: folds the payload into a 3-byte
    'pixel' so downstream feature code has real numbers to chew on."""
    acc = [0, 0, 0]
    for i, b in enumerate(payload):
        acc[i % 3] = (acc[i % 3] + b) % 256
    return acc


def extract_features(media: DataFrame, batch_hint: int = 64) -> DataFrame:
    """mapInPandas feature extraction over binary payloads: Arrow ships
    the bytes to Python in columnar batches; each batch is decoded
    (here: fake-decoded) and reduced to fixed-width features. The
    pattern — iterator of pandas batches in, iterator out — is the
    production shape for resize / frame-sample / embed stages.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, mime, payload in zip(pdf["media_id"], pdf["mime"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                rgb = fake_decode_rgb(data)
                out.append(
                    {
                        "media_id": mid,
                        "mime": mime,
                        "feat_dim": len(rgb),
                        "checksum": sum(data) % 1_000_000_007,
                        "mean_byte_milli": (sum(data) * 1000) // len(data) if data else 0,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.mapInPandas(fn, FEATURE_SCHEMA)


def resize_image(payload: bytes, mime: str, width: int, height: int):
    """Codec seam — real deployments plug PIL.Image.resize here."""
    raise NotImplementedError(
        "image codecs are not installed in this environment; "
        "resize_media uses the deterministic fake path"
    )


def resize_media(media: DataFrame, target_w: int = 64, target_h: int = 64) -> DataFrame:
    """Resize stage (same mapInPandas shape as extract_features): emits
    the media row with updated dimensions and a transformed payload.
    The real pixel work lives behind the resize_image seam; the fake
    path scales the payload length by the area ratio — deterministic,
    so batch shape/schema/row-count invariants are testable. Only image
    mimes are resized; other rows pass through untouched.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            new_payloads, new_w, new_h, new_n = [], [], [], []
            for mime, payload, w, h in zip(pdf["mime"], pdf["payload"], pdf["width"], pdf["height"]):
                data = bytes(payload) if payload is not None else b""
                if mime.startswith("image/") and w and h:
                    # fake resize: keep a deterministic prefix proportional
                    # to the target/source area ratio (≥1 byte)
                    ratio = min(1.0, (target_w * target_h) / float(w * h))
                    keep = max(1, int(len(data) * ratio))
                    new_payloads.append(data[:keep])
                    new_w.append(target_w)
                    new_h.append(target_h)
                    new_n.append(keep)
                else:
                    new_payloads.append(data)
                    new_w.append(w)
                    new_h.append(h)
                    new_n.append(len(data))
            out["payload"] = new_payloads
            out["width"] = new_w
            out["height"] = new_h
            out["n_bytes"] = new_n
            yield out[[f.name for f in MEDIA_SCHEMA.fields]]

    return media.mapInPandas(fn, MEDIA_SCHEMA)


def media_stats(media: DataFrame) -> DataFrame:
    """Metadata-only aggregation — must never touch ``payload``:
    .explain shows ReadSchema without the binary column (column
    pruning), which is what keeps 100 TB metadata sweeps cheap."""
    return (
        media.groupBy("mime")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.avg("width").alias("avg_width"),
        )
    )


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling analogue: deterministic 1-in-N sample keyed on
    media_id (no shuffle — a filter, not a repartition)."""
    return media.filter(F.col("media_id") % every_n == 0)


FRAME_BYTES = 16
FRAME_EVERY = 4

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_frame_bytes", LongType()),
        StructField("frame_sum", LongType()),
    ]
)


def sample_video_frames(
    media: DataFrame, frame_bytes: int = FRAME_BYTES, every_n: int = FRAME_EVERY
) -> DataFrame:
    """Frame-sampling stage: each video payload is a sequence of
    fixed-size frames; emit every Nth frame as its own row with a
    deterministic per-frame feature (byte sum — the seam where a real
    deployment plugs ffmpeg frame extraction + an image embed).

    The fan-out (1 video row → many frame rows) happens INSIDE the
    Arrow batch, map-only: no shuffle, no explode of a
    Python-materialized array column, and downstream per-frame ops
    inherit the video's partitioning.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids: list[int] = []
            idxs: list[int] = []
            lens: list[int] = []
            sums: list[int] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                n_frames = (len(data) + frame_bytes - 1) // frame_bytes
                for fi in range(0, n_frames, every_n):
                    chunk = data[fi * frame_bytes : (fi + 1) * frame_bytes]
                    mids.append(mid)
                    idxs.append(fi)
                    lens.append(len(chunk))
                    sums.append(sum(chunk))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "n_frame_bytes": pd.Series(lens, dtype="int64"),
                    "frame_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return media.mapInPandas(fn, FRAME_SCHEMA)


AUDIO_WIN_BYTES = 32
AUDIO_HOP_BYTES = 16

AUDIO_WIN_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("win_idx", LongType()),
        StructField("n_win_bytes", LongType()),
        StructField("energy", LongType()),
    ]
)


def audio_windows(
    media: DataFrame, win_bytes: int = AUDIO_WIN_BYTES, hop_bytes: int = AUDIO_HOP_BYTES
) -> DataFrame:
    """Overlapping-window audio analysis: each audio payload is framed
    into windows of ``win_bytes`` advancing by ``hop_bytes`` (the
    50%-overlap STFT framing convention), and each window reduces to a
    deterministic energy feature (sum of squared byte values — the
    seam where a real deployment plugs an FFT / mel filterbank).
    Same Arrow fan-out shape as the video frame sampler: map-only,
    windows materialize inside the batch, no shuffle.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids: list[int] = []
            idxs: list[int] = []
            lens: list[int] = []
            energies: list[int] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                n_wins = max(0, (len(data) - 1) // hop_bytes + 1) if data else 0
                for wi in range(n_wins):
                    chunk = data[wi * hop_bytes : wi * hop_bytes + win_bytes]
                    mids.append(mid)
                    idxs.append(wi)
                    lens.append(len(chunk))
                    energies.append(sum(b * b for b in chunk))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "win_idx": pd.Series(idxs, dtype="int64"),
                    "n_win_bytes": pd.Series(lens, dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    return media.mapInPandas(fn, AUDIO_WIN_SCHEMA)


def xmodal_audio_windows(t: dict[str, DataFrame]) -> DataFrame:
    """Declared audio-framing pipeline: metadata-only route (mime =
    audio/*) prunes before payloads cross the Arrow boundary, then
    :func:`audio_windows` fans each clip out to 50%-overlapping
    32-byte windows with integer energies — DuckDB-oracled because
    the fake energy is pure byte arithmetic over an ASCII corpus.
    """
    media = media_from_docs(t)
    return audio_windows(media.filter(F.col("mime") == "audio/wav"))


def media_from_docs(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic media table derived from ``documents``: the utf-8
    bytes of each text stand in for a payload, with typed metadata
    (mime routed by doc_id, dimensions from the byte count). This keeps
    the multimodal pipeline runnable — and DuckDB-oracled — without
    codec libraries or binary testdata.
    """
    return media_projection(t["documents"])


def media_projection(docs: DataFrame) -> DataFrame:
    """The documents→media column mapping — works on a batch table or
    a stream (the streaming frame sampler reuses it)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(
            "CASE doc_id % 4 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'"
            " WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END"
        ).alias("mime"),
        (F.length("text") % 256).cast("int").alias("width"),
        (F.length("text") % 128).cast("int").alias("height"),
        F.length("text").cast("long").alias("n_bytes"),
        F.encode("text", "utf-8").alias("payload"),
    )


def xmodal_media_features(t: dict[str, DataFrame]) -> DataFrame:
    """Declared multimodal pipeline: metadata-only pruning (mime route
    + size floor decided WITHOUT reading payloads) → Arrow-batched
    mapInPandas feature extraction over the binary column. The fake
    decoder is deterministic integer arithmetic over the payload bytes,
    so the whole pipeline — including the Python stage — is
    DuckDB-oracled (codepoint sums; the corpus is ASCII).

    Scale: the filter prunes on metadata columns before any byte
    crosses the Arrow boundary; the UDF is per-batch, stateless, and
    map-only — no shuffle anywhere in the plan.
    """
    media = media_from_docs(t)
    pruned = media.filter(
        (F.col("mime").startswith("image/")) & (F.col("n_bytes") >= 100)
    )
    return extract_features(pruned)


def xmodal_exact_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Exact media dedup by PAYLOAD hash — the first pass every
    multimodal corpus runs (identical bytes re-crawled under different
    ids), done entirely JVM-side: ``md5`` works directly on the binary
    column, so no payload ever crosses into Python and the only
    shuffles key on the digest. Keep-lowest-id via a keyed MIN
    aggregate joined back on the digest (map-side combine — a
    row_number window would sort a re-crawled-billions-of-times
    payload's group through one reducer; r8 coarse-key window sweep);
    emits the digest so a persisted manifest (bucket-written on it)
    makes the next batch's check exchange-free — the binary-column
    sibling of ``text_incremental_dedup``'s posture.
    """
    media = media_from_docs(t)
    hashed = media.select("media_id", "mime", F.md5("payload").alias("h"))
    firsts = hashed.groupBy("h").agg(F.min("media_id").alias("first_id"))
    return hashed.join(firsts, "h").select(
        "media_id",
        "mime",
        "h",
        (F.col("media_id") > F.col("first_id")).cast("bigint").alias("is_dup"),
    )


def xmodal_frame_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Declared frame-sample pipeline: metadata-only route (mime =
    video/*) prunes before any payload crosses the Arrow boundary,
    then :func:`sample_video_frames` fans each video out to every 4th
    16-byte frame. Deterministic byte arithmetic keeps the Python
    stage DuckDB-oracled (the corpus is ASCII, so codepoints ≡ bytes).
    """
    media = media_from_docs(t)
    vids = media.filter(F.col("mime") == "video/mp4")
    return sample_video_frames(vids)


def xmodal_media_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-mime corpus profile computed WITHOUT touching payloads:
    counts, total bytes, average width — the metadata sweep that
    routes/filters a multimodal corpus before any byte is decoded.
    Catalyst must prune the payload projection out of the plan (no
    encode() call survives — asserted in test_plans); on a real
    parquet media table the same pruning drops the binary column from
    ReadSchema, which is what keeps this O(metadata) instead of
    O(corpus bytes) at 100 TB. avg_width is emitted in exact
    milli-units (integer div) for cross-engine hashing.
    """
    media = media_from_docs(t)
    return media.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.expr("cast((sum(width) * 1000) div count(1) as bigint)").alias(
            "avg_width_milli"
        ),
    )


def xmodal_phash_neardup(t: dict[str, DataFrame]) -> DataFrame:
    """Perceptual-hash-style NEAR-dup search over media payloads — the
    binary-column sibling of ``simhash_pair_search`` (exact payload
    dedup catches only identical bytes; re-encoded/trimmed crawls need
    a locality-sensitive fingerprint). Fingerprint: a 60-bit SimHash
    over the payload's byte 4-grams — the codec-free stand-in for
    pHash (with a real codec the gram stream is replaced by DCT/low-
    frequency coefficients from the decode seam in this module; the
    banding/verify algebra below is unchanged, which is the point).
    Candidates share one of 4 exact 15-bit bands (pigeonhole — lossless
    for Hamming radius ≤ 3, high-recall beyond), verified by popcount
    of the XOR. Integer-exact end to end.

    Scale: fingerprints are 8 bytes/media regardless of payload size,
    built in ONE pass over the gram stream (60 map-side partial
    aggregates, no bit explode); the self-join keys on (band, 15-bit
    value) — never all-pairs (plan-asserted by the global sweep).
    Only media with ≥ 4 payload bytes carry a fingerprint.
    """
    k = 4
    media = media_from_docs(t)
    src = media.select("media_id", "payload")

    # r13 fingerprint rewrite (guide §4.2/§8.3): the gram explode +
    # md5-per-occurrence + 30-buffer SWAR aggregation (one JVM row and
    # one md5 per payload BYTE — the whole-corpus gram stream shuffled
    # into a keyed aggregate; the r12 SWAR pack had this stage at
    # ~4.6 s of the query's 4.3-4.4 s) becomes ONE map-only Arrow pass:
    # per media, byte 4-grams are folded to (unique gram, count) with
    # numpy, md5 runs once per DISTINCT gram (cached across media
    # within a task — guide §4.5), and the bit votes are one
    # counts @ bits int64 matvec. BIT-IDENTICAL by construction:
    # the gram multiset is the same (substring over the utf-8-decoded
    # string ≡ byte windows on this ASCII corpus, with an exact
    # char-gram fallback for any non-ASCII payload), H60 is the same
    # md5[:15] integer, and the majority rule (2·ones_j > n, ties → 0)
    # is the SWAR/±1-vote rule verbatim. int64 exactness: votes ≤ n
    # < 2³¹ per media (2 GiB row cap), counts @ bits stays far inside
    # int64. The fingerprint stage now shuffles NOTHING — 8 bytes/media
    # emerge from the scan — which is the §8 "move heavy bytes once"
    # posture; only the banded candidate join below shuffles.
    cache_cap = dedup.MD5_BITS_CACHE_CAP  # read at build time, see its doc

    def fingerprint(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        bits_for = dedup.md5_bits_memo(cache_cap)

        for pdf in batches:
            out_ids, out_ph = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                s = b.decode("utf-8")
                n = len(s) - (k - 1)
                if n <= 0:
                    continue
                if s.isascii():
                    arr = np.frombuffer(b, dtype=np.uint8)
                    packed = (
                        arr[: -(k - 1)].astype(np.uint32)
                        | (arr[1:-2].astype(np.uint32) << 8)
                        | (arr[2:-1].astype(np.uint32) << 16)
                        | (arr[3:].astype(np.uint32) << 24)
                    )
                    uniq, cts = np.unique(packed, return_counts=True)
                    grams = [int(g).to_bytes(4, "little") for g in uniq]
                else:  # exact char-gram fallback (substring semantics)
                    from collections import Counter

                    c = Counter(s[i : i + k] for i in range(n))
                    grams = [g.encode("utf-8") for g in c.keys()]
                    cts = np.fromiter(c.values(), dtype=np.int64)
                bits = np.stack([bits_for(g) for g in grams])
                votes = cts.astype(np.int64) @ bits  # (60,) ones-counters
                ph_bits = (2 * votes > n).astype(np.int64)
                out_ids.append(mid)
                out_ph.append(int((ph_bits << shifts).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_ids, dtype="int64"),
                    "phash": pd.Series(out_ph, dtype="int64"),
                }
            )

    ph = src.mapInPandas(fingerprint, "media_id long, phash long").localCheckpoint()
    bands = []
    for b in range(SIMHASH_BANDS):
        key = F.expr(f"(phash >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}")
        bands.append(ph.select(F.lit(b).alias("band"), key.alias("bkey"), "media_id", "phash"))
    buckets = bands[0]
    for bb in bands[1:]:
        buckets = buckets.unionAll(bb)
    a, b2 = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(ph_a ^ ph_b)")
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= SIMHASH_PAIR_HAMMING_MAX)
        .select("media_a", "media_b", "hamming")
    )


BUILDERS = {
    "xmodal_media_features": xmodal_media_features,
    "xmodal_exact_dedup": xmodal_exact_dedup,
    "xmodal_phash_neardup": xmodal_phash_neardup,
    "xmodal_frame_sample": xmodal_frame_sample,
    "xmodal_media_stats": xmodal_media_stats,
    "xmodal_audio_windows": xmodal_audio_windows,
}

ORACLES: dict[str, str] = {
    "xmodal_exact_dedup": """
        SELECT media_id, mime, h, (rn > 1)::BIGINT AS is_dup FROM (
            SELECT doc_id AS media_id,
                   CASE doc_id % 4 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
                        WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
                   md5(text) AS h,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents
        )
    """,
    "xmodal_media_features": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   CASE doc_id % 4 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
                        WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
                   length(text)::BIGINT AS n_bytes,
                   list_aggregate(list_transform(string_split(text, ''),
                                                 c -> unicode(c)), 'sum')::BIGINT AS byte_sum
            FROM documents
        )
        SELECT media_id, mime, 3::INTEGER AS feat_dim,
               (byte_sum % 1000000007)::BIGINT AS checksum,
               ((byte_sum * 1000) // n_bytes)::BIGINT AS mean_byte_milli
        FROM m
        WHERE mime LIKE 'image/%' AND n_bytes >= 100
    """,
    "xmodal_frame_sample": f"""
        WITH m AS (
            SELECT doc_id AS media_id, text, length(text)::BIGINT AS n_bytes
            FROM documents WHERE doc_id % 4 = 3
        ), frames AS (
            SELECT media_id,
                   unnest(range(0, ((n_bytes + {FRAME_BYTES - 1}) // {FRAME_BYTES})::BIGINT)) AS frame_idx,
                   text
            FROM m
        )
        SELECT media_id,
               frame_idx::BIGINT AS frame_idx,
               length(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))::BIGINT
                   AS n_frame_bytes,
               list_aggregate(list_transform(
                   string_split(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}), ''),
                   c -> unicode(c)), 'sum')::BIGINT AS frame_sum
        FROM frames WHERE frame_idx % {FRAME_EVERY} = 0
    """,
    "xmodal_audio_windows": f"""
        WITH m AS (
            SELECT doc_id AS media_id, text, length(text)::BIGINT AS n
            FROM documents WHERE doc_id % 4 = 2
        ), wins AS (
            SELECT media_id,
                   unnest(range(0, ((n - 1) // {AUDIO_HOP_BYTES} + 1)::BIGINT)) AS win_idx,
                   text
            FROM m WHERE n > 0
        )
        SELECT media_id, win_idx::BIGINT AS win_idx,
               length(substring(text, win_idx * {AUDIO_HOP_BYTES} + 1, {AUDIO_WIN_BYTES}))::BIGINT
                   AS n_win_bytes,
               list_aggregate(list_transform(
                   string_split(substring(text, win_idx * {AUDIO_HOP_BYTES} + 1, {AUDIO_WIN_BYTES}), ''),
                   c -> unicode(c) * unicode(c)), 'sum')::BIGINT AS energy
        FROM wins
    """,
    "xmodal_media_stats": """
        SELECT CASE doc_id % 4 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
                    WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
               COUNT(*) AS n,
               SUM(length(text))::BIGINT AS total_bytes,
               ((SUM(length(text) % 256) * 1000) // COUNT(*))::BIGINT AS avg_width_milli
        FROM documents GROUP BY 1
    """,
}


def make_fake_media(spark, n: int = 100, seed: int = 7) -> DataFrame:
    """Synthetic media table for tests: seeded binary payloads."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        mime = rng.choice(["image/jpeg", "image/png", "audio/wav", "video/mp4"])
        size = rng.randrange(64, 512)
        payload = bytes(rng.randrange(256) for _ in range(size))
        w, h = (rng.choice([64, 128, 256]), rng.choice([64, 128, 256]))
        rows.append((i, mime, w, h, len(payload), payload))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


ORACLES["xmodal_phash_neardup"] = f"""
        WITH grams AS (
            SELECT doc_id AS media_id,
                   unnest(list_transform(range(1, length(text) - 2),
                                         i -> substring(text, i, 4))) AS g
            FROM documents WHERE length(text) >= 4
        ), hashed AS (
            SELECT media_id, {H60_DUCK.format(c="g")} AS h FROM grams
        ), bits AS (
            SELECT media_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM hashed, range({SIMHASH_BITS}) r(j)
            GROUP BY media_id, j
        ), ph AS (
            SELECT media_id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS phash
            FROM bits GROUP BY media_id
        ), buckets AS (
            SELECT b AS band, (phash >> (b * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS bkey,
                   media_id, phash
            FROM ph, range({SIMHASH_BANDS}) r(b)
        ), cand AS (
            SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                   a.phash AS ph_a, b.phash AS ph_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bkey = b.bkey AND a.media_id < b.media_id
        )
        SELECT media_a, media_b, bit_count(xor(ph_a, ph_b))::BIGINT AS hamming
        FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= {SIMHASH_PAIR_HAMMING_MAX}
    """

"""Multimodal plumbing tests: binary payloads through mapInPandas,
metadata-only pruning, codec-seam stubs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_realtime_ck_spark.operators import dedup
from gmall_realtime_ck_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.make_fake_media(spark, n=120).cache()


def test_extract_features_roundtrip(media):
    feats = mm.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 120
    assert all(r["feat_dim"] == 3 for r in rows)
    # checksum is a pure function of the payload → stable across runs
    again = {r["media_id"]: r["checksum"] for r in mm.extract_features(media).collect()}
    assert all(again[r["media_id"]] == r["checksum"] for r in rows)
    # mean byte is bounded
    assert all(0 <= r["mean_byte_milli"] <= 255_000 for r in rows)


def test_media_stats_prunes_payload(media, spark, tmp_path):
    # through parquet so ReadSchema is observable
    path = str(tmp_path / "media")
    media.write.mode("overwrite").parquet(path)
    on_disk = spark.read.parquet(path)
    plan = mm.media_stats(on_disk)._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan, "metadata query must not read the binary column"
    got = {r["mime"]: r["n"] for r in mm.media_stats(on_disk).collect()}
    assert sum(got.values()) == 120


def test_sample_frames_deterministic(media):
    s1 = {r["media_id"] for r in mm.sample_frames(media, every_n=10).collect()}
    s2 = {r["media_id"] for r in mm.sample_frames(media, every_n=10).collect()}
    assert s1 == s2
    assert len(s1) == 12


def test_codec_seams_raise(media):
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"xx", "image/jpeg")
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"xx", "audio/wav")


def test_resize_media_plumbing(media):
    resized = mm.resize_media(media, target_w=64, target_h=64)
    rows = {r["media_id"]: r for r in resized.collect()}
    orig = {r["media_id"]: r for r in media.collect()}
    assert len(rows) == len(orig)
    for mid, r in rows.items():
        o = orig[mid]
        if o["mime"].startswith("image/"):
            assert (r["width"], r["height"]) == (64, 64)
            assert 1 <= r["n_bytes"] <= o["n_bytes"]
            assert bytes(o["payload"]).startswith(bytes(r["payload"]))
        else:  # non-image rows pass through untouched
            assert (r["width"], r["height"]) == (o["width"], o["height"])
            assert bytes(r["payload"]) == bytes(o["payload"])
    # deterministic: second run identical
    again = {r["media_id"]: r["n_bytes"] for r in
             mm.resize_media(media, target_w=64, target_h=64).collect()}
    assert all(again[m] == r["n_bytes"] for m, r in rows.items())
    with pytest.raises(NotImplementedError):
        mm.resize_image(b"xx", "image/jpeg", 64, 64)


def _assert_md5_memo_is_pure(tables, monkeypatch, build, cols):
    """Law: the per-task md5 memo shared by the
    phash and simhash fingerprints (dedup.md5_bits_memo) is BOUNDED
    (MD5_BITS_CACHE_CAP) and pure — running the whole query with the
    memo effectively disabled (cap 0 ⇒ cleared on every insert) must
    produce identical rows. The cap is captured as a closure value at
    BUILD time, so patching the module constant before building is
    sufficient."""
    baseline = sorted(tuple(r[c] for c in cols) for r in build(tables).collect())
    assert baseline, "fixture produced no rows"
    monkeypatch.setattr(dedup, "MD5_BITS_CACHE_CAP", 0)
    uncached = sorted(tuple(r[c] for c in cols) for r in build(tables).collect())
    assert uncached == baseline


def test_phash_gram_cache_is_pure_memoization(tables, monkeypatch):
    _assert_md5_memo_is_pure(
        tables, monkeypatch, mm.xmodal_phash_neardup, ("media_a", "media_b", "hamming")
    )


def test_simhash_token_cache_is_pure_memoization(tables, monkeypatch):
    _assert_md5_memo_is_pure(tables, monkeypatch, dedup.simhash_docs, ("doc_id", "simhash"))

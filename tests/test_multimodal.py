"""Multimodal plumbing tests (decode is a deterministic fake — the
container has no media libraries; the Spark-side schema/batching is
what's under test)."""

import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.pipeline import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", bytes([10, 20, 30]) * 100),
        (2, "image", bytes([1, 2, 3]) * 50),
        (3, "audio", bytes([7, 7, 7]) * 200),
        (4, "image", None),
    ]
    return spark.createDataFrame(rows, "media_id long, kind string, payload binary")


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"abc")
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"abc")


def test_fake_decode_deterministic():
    a = M.decode_image(b"same-bytes", codec="fake")
    b = M.decode_image(b"same-bytes", codec="fake")
    assert (a == b).all()
    c = M.decode_image(b"other-bytes", codec="fake")
    assert (a != c).any()
    assert a.shape == (M.FEATURE_DIM,)


def test_extract_features(media):
    out = {r.media_id: r for r in M.extract_features(media, codec="fake").collect()}
    assert len(out) == 4
    assert out[1].n_bytes == 300
    assert len(out[1].features) == M.FEATURE_DIM
    assert out[4].features is None and out[4].n_bytes == 0
    assert out[3].kind == "audio"
    # determinism across runs
    again = {r.media_id: r for r in M.extract_features(media, codec="fake").collect()}
    assert again[1].features == out[1].features


def test_media_metadata_no_payload(media):
    out = M.media_metadata(media)
    assert "payload" not in out.columns
    rows = {r.media_id: r for r in out.collect()}
    assert rows[1].n_bytes == 300
    assert isinstance(rows[1].content_hash, int)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 91), (2, 10)], "media_id long, n_frames long")
    out = M.frame_sample_plan(df, every_n=30).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    assert by_id[1] == [0, 30, 60, 90]
    assert by_id[2] == [0]


def test_audio_frame_plan_window_math(spark):
    # 3000 samples, frame 1024, hop 512 → frames at 0/512/1024/1536 (1536+1024=2560 ≤ 3000; 2048+1024=3072 > 3000)
    audio = spark.createDataFrame(
        [(1, 1000, 3000), (2, 1000, 1024), (3, 1000, 1023)],
        "media_id long, sample_rate long, n_samples long",
    )
    rows = M.audio_frame_plan(audio, frame_length=1024, hop_length=512).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    assert [r.start_sample for r in sorted(by_id[1], key=lambda r: r.frame_idx)] == [
        0, 512, 1024, 1536,
    ]
    assert by_id[1][0].end_sample == 1024
    assert len(by_id[2]) == 1  # exactly one full frame
    assert 3 not in by_id  # too short for any frame
    assert sorted(by_id[1], key=lambda r: r.frame_idx)[1].start_ms == 512.0  # 512/1000Hz*1000


def test_audio_frame_features_fake(media):
    out = M.audio_frame_features(
        media.filter(F.col("media_id") == 3), codec="fake"
    ).collect()
    assert len(out) > 1  # 600-byte payload → multi-frame waveform
    for r in out:
        assert 0.0 < r.rms < 1.0  # RMS of [-1,1) uniform noise
        assert 0 < r.zero_crossings < 1024
    # deterministic across runs
    again = M.audio_frame_features(
        media.filter(F.col("media_id") == 3), codec="fake"
    ).collect()
    assert [(r.frame_idx, r.rms) for r in out] == [
        (r.frame_idx, r.rms) for r in again
    ]


class TestPerceptualHash:
    def _media(self, spark, rows):
        from pyspark.sql import functions as F

        return spark.createDataFrame(rows, "media_id long, txt string").select(
            "media_id", F.encode("txt", "UTF-8").alias("payload")
        )

    def test_identical_payloads_hamming_zero(self, spark):
        from stac_fastapi_duckdb_spark.pipeline.multimodal import (
            phash_near_dup_pairs,
        )

        s = "the quick brown fox jumps over the lazy dog " * 20
        media = self._media(spark, [(1, s), (2, s), (3, "完全不同 " + "z" * 600)])
        got = {(r.id_a, r.id_b, r.hamming) for r in phash_near_dup_pairs(media).collect()}
        assert (1, 2, 0) in got
        assert not any(3 in (a, b) for a, b, _ in got)

    def test_value_noise_matches_geometry_change_does_not(self, spark):
        from stac_fastapi_duckdb_spark.pipeline.multimodal import (
            phash_near_dup_pairs,
        )

        s = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 15
        noisy = s.replace("e", "f")        # same grid, small value shift
        shifted = "PREFIX-GEOMETRY-CHANGE " * 10 + s  # grid moved
        media = self._media(spark, [(1, s), (2, noisy), (3, shifted)])
        got = {(r.id_a, r.id_b) for r in phash_near_dup_pairs(media, max_hamming=6).collect()}
        assert (1, 2) in got
        assert (1, 3) not in got and (2, 3) not in got

    def test_empty_payload_excluded(self, spark):
        from stac_fastapi_duckdb_spark.pipeline.multimodal import perceptual_hash

        media = self._media(spark, [(1, ""), (2, "abc def ghi " * 30)])
        ids = [r.media_id for r in perceptual_hash(media).collect()]
        assert ids == [2]

    def test_bucket_cap_bounds_pair_expansion(self, spark):
        from stac_fastapi_duckdb_spark.pipeline.multimodal import (
            phash_near_dup_pairs,
        )

        # 12 identical payloads: every band bucket has 12 members; with
        # the cap below that nothing may pair
        rows = [(i, "same payload text " * 25) for i in range(12)]
        media = self._media(spark, rows)
        assert phash_near_dup_pairs(media, max_bucket_size=11).count() == 0
        full = phash_near_dup_pairs(media, max_bucket_size=1000).count()
        assert full == 12 * 11 // 2

    def test_bands_pack_bits_in_range(self, spark):
        from stac_fastapi_duckdb_spark.pipeline.multimodal import perceptual_hash

        media = self._media(spark, [(1, "abcdefgh " * 40)])
        bands = perceptual_hash(media).collect()[0].bands
        assert len(bands) == 8
        assert all(0 <= v <= 255 for v in bands)

    @staticmethod
    def _ahash_reference(text, blocks=64, num_bands=8):
        """Per-row pure-Python aHash: sample i (1-based) of an n-char
        stream lands in block ((i-1)·blocks) div n; bit b is the exact
        integer vote block_sum·n > total·block_len; bands pack 8 bits
        little-end first."""
        samples = [ord(c) for c in text]
        n = len(samples)
        bsum, cnt = [0] * blocks, [0] * blocks
        for i, c in enumerate(samples, 1):
            b = ((i - 1) * blocks) // n
            bsum[b] += c
            cnt[b] += 1
        total = sum(samples)
        bits = [int(bsum[b] * n > total * cnt[b]) for b in range(blocks)]
        bpb = blocks // num_bands
        return [
            sum(bits[j * bpb + k] << k for k in range(bpb))
            for j in range(num_bands)
        ]

    def test_arrow_kernel_matches_python_reference(self, spark):
        """The vectorized Arrow kernel must compute the identical
        signature as a per-row pure-Python aHash — including multibyte
        code points (the samples are code points, not bytes), short
        payloads (n < blocks → empty blocks vote 0), single chars, and
        payloads straddling block boundaries. The DuckDB oracle replays
        the same block assignment and vote, so this pin is what keeps
        the kernel oracle-exact."""
        from stac_fastapi_duckdb_spark.pipeline.multimodal import perceptual_hash

        rows = [
            (1, "the quick brown fox jumps over the lazy dog " * 20),
            (2, "mixed ascii and 中文字符 and accents éàü " * 9),
            (3, "短"),                        # single multibyte char
            (4, "ab"),                        # n << blocks
            (5, "x" * 64),                    # exactly one char per block
            (6, "x" * 63 + "é"),         # boundary straddle
            (7, "中" * 200),              # all multibyte
            (8, "z" * 65),                    # one block gets 2 chars
        ]
        media = self._media(spark, rows)
        got = {r.media_id: r.bands for r in perceptual_hash(media).collect()}
        assert got == {i: self._ahash_reference(t) for i, t in rows}

    def test_first_agreeing_band_emission_matches_distinct(self, spark):
        """Round-11 pin: first-agreeing-band emission produces EXACTLY
        the distinct pair set of the old formulation when no bucket is
        capped — each hamming≤t pair once, no duplicates."""
        from stac_fastapi_duckdb_spark.pipeline.multimodal import (
            perceptual_hash,
            phash_near_dup_pairs,
        )

        s = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 15
        rows = [(1, s), (2, s.replace("e", "f")), (3, s), (4, "PREFIX " * 30 + s)]
        media = self._media(spark, rows)
        pairs = phash_near_dup_pairs(media, max_hamming=6)
        got = [(r.id_a, r.id_b, r.hamming) for r in pairs.collect()]
        assert len(got) == len(set(got))  # duplicate-free w/o distinct
        # reference: brute-force hamming over the signature table
        sigs = {r.media_id: r.bands for r in perceptual_hash(media).collect()}
        import itertools

        want = set()
        for a, b in itertools.combinations(sorted(sigs), 2):
            h = sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
            if h <= 6:
                want.add((a, b, h))
        assert set(got) == want


def test_phash_dedup_map_collapses_twins(spark):
    from stac_fastapi_duckdb_spark.pipeline.dedup import connected_components
    from stac_fastapi_duckdb_spark.pipeline.multimodal import (
        phash_near_dup_pairs,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    twins = docs.select(
        (F.col("doc_id") + 1000000).alias("media_id"),
        F.encode(F.translate("text", "e", "f"), "UTF-8").alias("payload"),
    )
    media = base.unionByName(twins)
    pairs = phash_near_dup_pairs(media, max_hamming=6)
    comp = connected_components(
        pairs, all_ids=media.select("media_id"), id_col="media_id"
    )
    by_id = {r.media_id: r.component for r in comp.collect()}
    n_docs = docs.count()
    # every media item is assigned, exactly once
    assert len(by_id) == 2 * n_docs
    # every planted twin collapses onto a canonical ≤ its own id, and
    # most twins land in their original's cluster
    collapsed = sum(1 for i in range(n_docs) if by_id.get(i + 1000000) == by_id.get(i))
    assert collapsed >= 0.95 * n_docs
    # canonical ids are cluster minima: canonical(c) == c for all
    for mid, c in by_id.items():
        assert by_id[c] == c

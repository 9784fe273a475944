"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The decode step is STUBBED (no image/audio libraries in this
container — build brief): ``decode_image``/``decode_audio`` raise
NotImplementedError unless ``codec="fake"``, which produces a
deterministic hash-derived feature vector so the Spark-side plumbing —
schema, mapInPandas batch shape, partition sizing — is real and
testable end-to-end.

Scale notes: media rows are large (MBs); the operators repartition by
byte budget before the UDF so one Arrow batch ≈ one executor-memory-safe
chunk, and metadata-only plans never touch the payload column (column
pruning keeps binary out of the scan unless the UDF needs it).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", StructType([]), True),  # replaced below
    ]
)

FEATURE_DIM = 32

_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(FloatType()), True),
    ]
)


def _md5_stream(payload: bytes, n: int) -> np.ndarray:
    """First ``n`` bytes of the deterministic md5 counter stream
    ``md5(payload|0) ++ md5(payload|1) ++ ...`` (16 bytes per block).

    Chosen over an RNG because every byte is re-derivable in plain SQL
    (``md5(text || '|' || k)`` + hex-pair extraction), which is what lets
    the DuckDB oracle value-check the decode stubs exactly."""
    blocks = [
        hashlib.md5(payload + b"|" + str(k).encode()).digest()
        for k in range((n + 15) // 16)
    ]
    return np.frombuffer(b"".join(blocks), dtype=np.uint8)[:n]


def _fake_decode(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a real decoder: md5-stream feature
    vector, byte b → b/256 (exact in float32: power-of-two denominator,
    so the values survive float32→double→decimal round-trips bit-exactly
    on every engine). Replaces (not simulates) pixel decoding; swap for
    PIL/ffmpeg in a full deployment."""
    return _md5_stream(payload, dim).astype(np.float32) / np.float32(256.0)


def decode_image(payload: bytes, codec: str = "real") -> np.ndarray:
    if codec == "fake":
        return _fake_decode(payload)
    raise NotImplementedError(
        "Image decoding requires PIL/opencv — not available in this "
        "environment. Use codec='fake' for plumbing tests."
    )


def decode_audio(payload: bytes, codec: str = "real") -> np.ndarray:
    if codec == "fake":
        return _fake_decode(payload)
    raise NotImplementedError(
        "Audio decoding requires soundfile/ffmpeg — not available in "
        "this environment. Use codec='fake' for plumbing tests."
    )


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    kind_col: str = "kind",
    codec: str = "real",
    target_partition_bytes: int = 128 << 20,
) -> DataFrame:
    """mapInPandas feature extraction over binary media.

    Batches arrive as Arrow record batches; each is decoded row-wise
    (decoders are per-item by nature) and emitted as (id, kind, n_bytes,
    features). ``target_partition_bytes`` caps per-task payload volume
    via a size-aware repartition — at 100 TB the repartition key is what
    stops a 4 GB video from OOMing a 1 GB executor slot.
    """
    est = df.select(
        F.sum(F.length(F.col(payload_col)).cast("bigint")).alias("total")
    ).collect()[0]["total"]
    if est:
        # floor at the cluster's parallelism: the byte budget is a MAX
        # per task (memory safety); a small corpus in one row group must
        # still fan out across cores for the per-item decode work
        parts = max(
            int(est // target_partition_bytes) + 1,
            df.sparkSession.sparkContext.defaultParallelism,
        )
        df = df.repartition(parts)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, kind in zip(pdf[payload_col], pdf[kind_col]):
                if payload is None:
                    feats.append(None)
                    continue
                decoder = decode_audio if kind == "audio" else decode_image
                vec = decoder(bytes(payload), codec)
                feats.append([float(x) for x in vec])
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "kind": pdf[kind_col],
                    "n_bytes": pdf[payload_col].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "features": feats,
                }
            )

    return df.mapInPandas(_extract, schema=_FEATURES_SCHEMA)


def media_metadata(
    df: DataFrame, payload_col: str = "payload", algo: str = "xxhash64"
) -> DataFrame:
    """Metadata-only projection: never deserializes the payload beyond
    length — the plan prunes every other byte of the binary column's
    pages when the format supports it. ``algo``: xxhash64 (cheap 64-bit)
    or md5 (cross-engine-stable hex)."""
    hash_col = (
        F.md5(F.col(payload_col))
        if algo == "md5"
        else F.xxhash64(F.col(payload_col))
    )
    return df.select(
        *[c for c in df.columns if c != payload_col],
        F.length(F.col(payload_col)).cast("bigint").alias("n_bytes"),
        hash_col.alias("content_hash"),
    )


def audio_frame_plan(
    df: DataFrame,
    frame_length: int = 1024,
    hop_length: int = 512,
    id_col: str = "media_id",
    sample_rate_col: str = "sample_rate",
    n_samples_col: str = "n_samples",
) -> DataFrame:
    """Audio analysis-frame windowing PLAN: (audio, n_samples) → one row
    per overlapping frame (librosa-style ``frame_length``/``hop_length``
    semantics: frames fully inside the signal only). JVM-side
    sequence+explode — the row expansion that dominates cost at scale is
    pure Catalyst; the per-frame DSP lands on ``audio_frame_features``.

    Emits (id, frame_idx, start_sample, end_sample, start_ms)."""
    n_frames = F.expr(
        f"CASE WHEN `{n_samples_col}` >= {frame_length}"
        f" THEN (`{n_samples_col}` - {frame_length}) DIV {hop_length} + 1"
        f" ELSE 0 END"
    )
    out = df.withColumn("_n_frames", n_frames).filter(F.col("_n_frames") > 0)
    start = F.col("frame_idx") * hop_length
    return (
        out.select(
            F.col(id_col),
            F.col(sample_rate_col),
            F.explode(
                F.sequence(F.lit(0), (F.col("_n_frames") - 1).cast("int"))
            ).alias("frame_idx"),
        )
        .select(
            id_col,
            F.col("frame_idx").cast("long").alias("frame_idx"),
            start.cast("long").alias("start_sample"),
            (start + frame_length).cast("long").alias("end_sample"),
            F.round(
                start.cast("double") * 1000.0 / F.col(sample_rate_col), 6
            ).alias("start_ms"),
        )
    )


_AUDIO_FRAME_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("rms", DoubleType(), True),
        StructField("zero_crossings", LongType(), True),
    ]
)


def audio_frame_features(
    df: DataFrame,
    frame_length: int = 1024,
    hop_length: int = 512,
    codec: str = "real",
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-frame audio features (RMS energy, zero-crossing count) via
    mapInPandas: each media row decodes ONCE, then windows into frames
    inside the same Arrow batch (no per-frame shuffle; the wide
    payload never leaves the task that decoded it). Real decoding is
    stubbed (build brief): codec='fake' derives a deterministic
    md5-stream waveform (sample = (byte-128)/128) so batch shape and
    windowing math are fully testable AND exactly re-derivable by the
    DuckDB oracle: per-frame energy is an integer sum of (byte-128)²,
    and rms = sqrt(energy / (128²·frame_length)) is a correctly-rounded
    sqrt of an exactly-representable double on both engines."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, rms, zc = [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                raw = bytes(payload)
                if codec == "fake":
                    # md5-stream waveform, length tied to payload size
                    n = max(frame_length, min(len(raw) * 16, 1 << 15))
                    bvals = _md5_stream(raw, n).astype(np.int64)
                else:
                    raise NotImplementedError(
                        "Audio decoding requires soundfile/ffmpeg — use "
                        "codec='fake' for plumbing tests."
                    )
                sq = (bvals - 128) ** 2
                neg = bvals < 128  # sample sign: (b-128)/128 < 0
                flips = (neg[:-1] != neg[1:]).astype(np.int64)
                denom = 16384.0 * frame_length  # 128² · frame_length
                n_frames = (n - frame_length) // hop_length + 1
                for i in range(n_frames):
                    s = i * hop_length
                    energy = int(sq[s : s + frame_length].sum())
                    ids.append(mid)
                    idxs.append(i)
                    rms.append(math.sqrt(energy / denom))
                    zc.append(int(flips[s : s + frame_length - 1].sum()))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "rms": pd.Series(rms, dtype="float64"),
                    "zero_crossings": pd.Series(zc, dtype="int64"),
                }
            )

    return df.mapInPandas(_frames, schema=_AUDIO_FRAME_FEATURES_SCHEMA)


def frame_sample_plan(
    df: DataFrame,
    every_n: int = 30,
    id_col: str = "media_id",
    n_frames_col: str = "n_frames",
) -> DataFrame:
    """Video frame-sampling PLAN: expands (video, n_frames) → one row
    per sampled frame index, JVM-side (sequence+explode). The actual
    frame extraction is the stubbed decoder; the row-explosion shape —
    the part that matters for partitioning — is real."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col(n_frames_col) - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def perceptual_hash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    blocks: int = 64,
    num_bands: int = 8,
) -> DataFrame:
    """Block-average perceptual hash (aHash) over the decoded sample
    stream: split the stream into ``blocks`` equal spans, bit b = 1 iff
    span b's mean sample exceeds the whole-stream mean — the classic
    8×8 average-hash construction flattened to 1-D. With the stub
    codec the "samples" are the payload's character code points; a full
    deployment swaps in pixel luma / PCM frames and keeps every plan
    below unchanged.

    ONE map-only vectorized kernel: per Arrow batch, decode every
    payload once, segment-sum code points into ``blocks`` spans with
    ``np.add.reduceat`` (int64 — exact), majority-vote with exact
    integer cross-products (block_sum·n > total·block_len — no float
    means), pack bands. No Generate, no aggregation exchange — the
    payload's bytes never leave the scan task. A pure-Column
    formulation that exploded one row PER SAMPLE into two aggregate
    exchanges spent ~4 s of a 5.7 s query at sf0.1 in the explode
    stage alone.

    Decode uses ``errors="replace"`` for parity with the JVM's UTF-8
    decode (malformed bytes → U+FFFD); block b of an n-sample stream is
    samples ``ceil(b·n/blocks) .. ceil((b+1)·n/blocks)-1``, i.e. sample
    i (1-based) lands in block ``((i-1)·blocks) div n`` — the
    assignment the DuckDB oracle replays. Empty payloads carry no
    signal and are excluded; blocks with no samples (n < blocks) vote
    0.

    → (id_col, bands): ``bands[j]`` packs bits 8j..8j+7 as 0-255.
    """
    from stac_fastapi_duckdb_spark.pipeline.dedup import ensure_parallelism

    bpb = blocks // num_bands
    b_idx = np.arange(blocks, dtype=np.int64)

    band_shift = np.arange(bpb, dtype=np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _bands(payloads: pd.Series) -> pd.Series:
        # WHOLE-BATCH kernel (round 12): the previous form looped rows
        # in Python (decode, reduceat, band-pack per row — ~65 µs/row
        # of interpreter overhead; in-process A/B on a 10k-row batch:
        # 647 ms → 88 ms, bit-identical). At sf0.1 the query-level win
        # is within noise because each task's Arrow batch is only a few
        # hundred rows and the JVM↔Python boundary dominates; the
        # per-batch factor is what survives to production batch sizes.
        # Here every payload is decoded once
        # (per-row, C-speed — decoding a concatenation could merge a
        # malformed row tail with the next row's head, so the byte→
        # code-point step stays per row), then ALL block sums for ALL
        # rows come from ONE np.add.reduceat over the concatenated
        # code-point stream: block b of doc i starts at
        # doc_start[i] + ceil(b·n_i/blocks), and consecutive docs'
        # start lists chain exactly at the doc boundary, so one global
        # start vector segments the whole batch.
        cps = [
            np.frombuffer(
                bytes(raw).decode("utf-8", "replace").encode("utf-32-le"),
                dtype="<u4",
            )
            for raw in payloads
        ]
        nrows = len(cps)
        if nrows == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(c) for c in cps), dtype=np.int64, count=nrows)
        # empty payloads are filtered out before the UDF; guard anyway
        # so a direct call can't divide by zero
        nonempty = lens > 0
        out_bits = np.zeros((nrows, blocks), dtype=np.int64)
        if nonempty.any():
            ne_cps = [c for c, ok in zip(cps, nonempty) if ok]
            ne_lens = lens[nonempty]
            flat = np.concatenate(ne_cps).astype(np.int64)
            doc_starts = np.concatenate(([0], np.cumsum(ne_lens)))[:-1]
            # (docs × blocks) start matrix: ceil(b·n/blocks) per doc
            starts = (
                doc_starts[:, None] + (b_idx[None, :] * ne_lens[:, None] + blocks - 1) // blocks
            ).ravel()
            counts = np.diff(np.append(starts, flat.size))
            sums = np.add.reduceat(np.append(flat, np.int64(0)), starts)
            sums[counts == 0] = 0
            sums = sums.reshape(-1, blocks)
            counts = counts.reshape(-1, blocks)
            totals = np.add.reduceat(np.append(flat, np.int64(0)), doc_starts)
            # a doc's total never spans into the next doc: reduceat
            # segments end at the next doc's start
            bits = (sums * ne_lens[:, None]) > (totals[:, None] * counts)
            out_bits[nonempty] = bits.astype(np.int64)
        packed = (
            out_bits.reshape(nrows, num_bands, bpb) << band_shift[None, None, :]
        ).sum(axis=2)
        return pd.Series([row.tolist() for row in packed.astype(np.int64)])

    # byte-length filter ≡ a decoded-length filter: a payload decodes
    # to zero characters iff it has zero bytes (malformed bytes decode
    # to U+FFFD, never to nothing)
    return (
        ensure_parallelism(df)
        .filter(F.length(F.col(payload_col)) > 0)
        .select(
            F.col(id_col),
            _bands(F.col(payload_col)).alias("bands"),
        )
    )


def phash_near_dup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 6,
    max_bucket_size: int = 1000,
    blocks: int = 64,
    num_bands: int = 8,
) -> DataFrame:
    """Perceptual-hash near-duplicate media pairs: aHash signatures →
    pigeonhole band buckets (two items within ``max_hamming`` of 64
    bits must agree exactly on ≥1 of 8 bands whenever max_hamming < 8)
    → exact Hamming verify on the candidates only. Same skew contract
    as the LSH dedups: buckets above ``max_bucket_size`` are dropped
    BEFORE any pair is formed (window count over the band key).

    Pair generation is the bucket SELF-JOIN on (band, value), not the
    collect_list + in-array expansion the other LSH dedups use: the
    8-band signatures make buckets dense enough (hundreds of members)
    that the nested higher-order-function expansion — interpreted
    expression eval, one struct allocation per candidate — costs ~6×
    the equivalent codegen'd join at sf0.1. The signature table (9
    longs per media item — the index artifact, ~1/1000th of the
    payload bytes) is localCheckpointed once so the per-character
    hashing scan runs exactly once, not once per join side; the
    8-element zip_with Hamming runs per surviving candidate only, and
    id_a < id_b plus first-agreeing-band emission (a true pair can
    match on several bands — it is kept only at the first) keep the
    output canonical without a distinct exchange.

    → (id_a, id_b, hamming), id_a < id_b, hamming ≤ max_hamming.
    """
    from pyspark.sql import Window

    from stac_fastapi_duckdb_spark.pipeline.dedup import shj_hint

    sig = perceptual_hash(df, payload_col, id_col, blocks, num_bands).localCheckpoint()
    banded = sig.select(
        F.col(id_col).alias("_id"),
        "bands",
        F.posexplode("bands").alias("_band", "_val"),
    )
    # explicit repartition on the bucket key + SHUFFLE_HASH join hints
    # (round 11, the simhash/SRP single-exchange shape): the window's
    # ClusteredDistribution is satisfied by this ONE exchange, and the
    # hinted self-join below consumes that same exchange on both sides
    # (AQE stage reuse). Without the hint the toy-scale estimates pick
    # a BROADCAST join whose build side re-runs the explode + window
    # chain as a separate subtree (measured 2.4 s → 1.3 s for the pair
    # stage at sf0.1). See dedup.shj_hint for caveat + escape hatch.
    w = Window.partitionBy("_band", "_val")
    banded = (
        banded.repartition("_band", "_val")
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size))
        .drop("_n")
    )
    a = shj_hint(banded.select(
        F.col("_id").alias("id_a"), F.col("bands").alias("h_a"), "_band", "_val"
    ))
    b = shj_hint(banded.select(
        F.col("_id").alias("id_b"), F.col("bands").alias("h_b"), "_band", "_val"
    ))
    ham = F.aggregate(
        F.zip_with("h_a", "h_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # FIRST-AGREEING-BAND emission (round 11), replacing the
    # post-verify .distinct(): a hamming≤t pair agrees on every band
    # its signatures share, so the bucket join emits it once per
    # agreeing band and the old distinct paid an exchange + hash
    # aggregate to collapse the copies. Which bands agree is a pure
    # function of the two signatures already on the joined row — keep
    # the pair only where the join band is the FIRST agreeing one.
    # With no capped buckets the output is provably identical to the
    # distinct formulation (tests/test_multimodal.py pins it); when a
    # degenerate bucket IS capped, a pair whose first-agreeing band
    # sat in it is suppressed — the guard's conservative intent.
    first_band = (
        F.array_position(
            F.zip_with("h_a", "h_b", lambda x, y: x == y), F.lit(True)
        )
        - 1
    )
    return (
        a.join(b, ["_band", "_val"])
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("_band") == first_band))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )

"""Audio columns: opaque WAV bytes -> typed features, Arrow-batched.

The reference has no audio path; this is the engine extension a
multimodal training pipeline needs, built exactly like the image path
(images.py / binary_files.py): payloads stay opaque ``binary`` columns
with typed metadata, decode happens worker-side in Arrow batches, and
the decoder is REAL — RIFF/WAVE PCM parses with the stdlib ``wave``
module + numpy, no external audio libs. Non-WAV codecs (mp3, flac)
would need a library that is not in this container and raise
NotImplementedError honestly, same contract as images.decode_image.

Scale shape: the binaryFile listing distributes the FILE LIST, each
task reads only its own files; features are one mapInPandas pass,
memory O(batch). At 100 TB of audio the same plan holds with the
listing parallelized over object storage.
"""

from __future__ import annotations

import io
import os
import wave

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import (
    read_stamped_scratch,
    run_scratch,
    write_scratch,
)
from a3_fp_bigdata_spark.pickling import ship_by_value
from a3_fp_bigdata_spark.registry import query

ship_by_value(__name__)  # Arrow closures must not need repo on sys.path

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")


def decode_wav_raw(payload: bytes) -> tuple[np.ndarray, int, int]:
    """WAV bytes -> (CENTERED integer PCM int64 shaped (n, channels),
    sample_rate, denom) where true amplitude = pcm / denom. The
    integer form is what the mm5 scratch-oracle materializes: both
    engines re-derive RMS/peak/duration from exact int64 rows (sums
    of pcm and pcm^2 are exact, the one float division + sqrt are
    correctly rounded, so the re-aggregation is bit-identical).
    8/16/32-bit integer PCM; anything else raises ValueError rather
    than guessing."""
    try:
        with wave.open(io.BytesIO(payload)) as wf:
            sr = wf.getframerate()
            nch = wf.getnchannels()
            width = wf.getsampwidth()
            raw = wf.readframes(wf.getnframes())
    except (wave.Error, EOFError) as e:
        raise ValueError(f"corrupt WAV: {e}") from e
    if width == 1:  # unsigned 8-bit
        pcm = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
        denom = 128
    elif width == 2:
        pcm = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        denom = 32768
    elif width == 4:
        pcm = np.frombuffer(raw, dtype="<i4").astype(np.int64)
        denom = 2147483648
    else:
        raise ValueError(f"unsupported WAV sample width: {width} bytes")
    return pcm.reshape(-1, nch), sr, denom


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (float samples in [-1, 1] shaped (n, channels),
    sample_rate). Thin float view over decode_wav_raw — pcm/denom is
    a pure exponent shift (denom a power of two), so the float path
    is bit-identical to the historical direct division."""
    pcm, sr, denom = decode_wav_raw(payload)
    return pcm.astype(np.float64) / denom, sr


def encode_wav(
    samples: np.ndarray, sample_rate: int, channels: int = 1
) -> bytes:
    """Float samples in [-1, 1] -> 16-bit PCM WAV bytes (fixture
    builder; decode_wav(encode_wav(x)) == x to 16-bit resolution)."""
    pcm = np.clip(np.rint(samples * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


_AUDIO_FEATURE_SCHEMA = (
    "media_id long, duration_s double, sample_rate int, n_channels int, "
    "rms double, peak double"
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> per-clip features, one Arrow batch at a
    time: duration, sample rate, channel count, RMS and peak amplitude
    — the columns an audio-corpus curation filter keys on (silence/
    clipping detection, length buckets)."""

    def batches(it):
        for pdf in it:
            out = {
                "media_id": [], "duration_s": [], "sample_rate": [],
                "n_channels": [], "rms": [], "peak": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                x, sr = decode_wav(bytes(payload))
                out["media_id"].append(mid)
                out["duration_s"].append(round(x.shape[0] / sr, 6))
                out["sample_rate"].append(sr)
                out["n_channels"].append(x.shape[1])
                out["rms"].append(round(float(np.sqrt((x**2).mean())), 6))
                out["peak"].append(round(float(np.abs(x).max()), 6))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=_AUDIO_FEATURE_SCHEMA
    )


_SAMPLE_SCHEMA = (
    "media_id long, idx long, ch int, pcm long, sr int, denom long"
)


def sample_rows(media: DataFrame) -> DataFrame:
    """Decode -> one row per (frame, channel) with the RAW centered
    integer PCM value — the mm5 scratch-oracle materialization (the
    pixel_rows pattern for audio). int64 end-to-end: both engines
    re-aggregate duration/RMS/peak from exact integer sums. 16-bit
    clips keep sum(pcm^2) well inside int64 (2^30 per sample); 32-bit
    corpora would overflow a BIGINT sum past ~4M samples per clip and
    need a pre-scaled materialization — the fixtures are 16-bit."""

    def batches(it):
        for pdf in it:
            frames = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                pcm, sr, denom = decode_wav_raw(bytes(payload))
                n, c = pcm.shape
                frames.append(
                    pd.DataFrame(
                        {
                            "media_id": np.full(n * c, mid, dtype=np.int64),
                            "idx": np.repeat(
                                np.arange(n, dtype=np.int64), c
                            ),
                            "ch": np.tile(np.arange(c, dtype=np.int32), n),
                            "pcm": pcm.reshape(-1),
                            "sr": np.full(n * c, sr, dtype=np.int32),
                            "denom": np.full(n * c, denom, dtype=np.int64),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=_SAMPLE_SCHEMA
    )


_MM5_SAMPLE_SCRATCH = run_scratch("mm5_samples")

#: rounding scale for the float features (matches the historical
#: round(x, 6) in extract_audio_features)
_AUDIO_ROUND = 6


def _mm5_oracle() -> str:
    from a3_fp_bigdata_spark.functions.rounding import half_up_sql

    src = f"read_parquet('{_MM5_SAMPLE_SCRATCH}/*.parquet')"
    dur = half_up_sql("(max(idx) + 1) / CAST(max(sr) AS DOUBLE)", _AUDIO_ROUND)
    rms = half_up_sql(
        "sqrt(CAST(sum(pcm * pcm) AS BIGINT)"
        " / CAST(count(*) * max(denom) * max(denom) AS DOUBLE))",
        _AUDIO_ROUND,
    )
    peak = half_up_sql("max(abs(pcm)) / CAST(max(denom) AS DOUBLE)", _AUDIO_ROUND)
    return f"""
    WITH s AS (
      SELECT * FROM {src}
      WHERE n_src = (SELECT count(*) FROM {src})
        AND 1 = (SELECT count(DISTINCT n_src) FROM {src})
    )
    SELECT media_id,
           {dur} AS duration_s,
           CAST(max(sr) AS INT) AS sample_rate,
           CAST(max(ch) + 1 AS INT) AS n_channels,
           {rms} AS rms,
           {peak} AS peak
    FROM s GROUP BY media_id
    """


@query("mm5_audio_dir_features", oracle=_mm5_oracle())
def mm5_audio_dir_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of the committed WAV fixtures -> REAL stdlib
    decode -> per-clip features. ORACLE-BACKED since r12 (was
    rows-only): the decode materializes per-sample integer PCM rows to
    fingerprinted scratch (sample_rows) and BOTH engines re-derive
    duration/sample_rate/channels/RMS/peak from the same exact int64
    bytes — sums of pcm and pcm^2 are exact integers, the single
    division and sqrt are correctly rounded, and the half_up(6)
    rounding is generated from one helper on both sides, so the
    re-aggregation is bit-identical. The waveform VALUES stay pinned
    by pytest against the generator's analytic signals
    (tools/make_wav_fixtures.py: sine RMS = A/sqrt(2), square = A)."""
    from a3_fp_bigdata_spark.functions.rounding import half_up
    from a3_fp_bigdata_spark.multimodal.binary_files import image_dir_source
    from a3_fp_bigdata_spark.registry import pin

    media = image_dir_source(spark, FIXTURE_DIR, glob="*.wav").withColumn(
        "media_type", F.lit("audio/wav")  # source labels by extension
    )
    samples = pin(sample_rows(media))  # decode once: stamp + scratch
    write_scratch(samples, _MM5_SAMPLE_SCRATCH)
    back = read_stamped_scratch(spark, _MM5_SAMPLE_SCRATCH)
    per = back.groupBy("media_id").agg(
        (F.max("idx") + 1).alias("nf"),
        F.max("sr").alias("srate"),
        (F.max("ch") + 1).cast("int").alias("n_channels"),
        F.max("denom").alias("den"),
        F.sum(F.col("pcm") * F.col("pcm")).alias("s2"),
        F.max(F.abs(F.col("pcm"))).alias("pk"),
        F.count("*").alias("n_all"),
    )
    return (
        per.select(
            "media_id",
            half_up(
                F.col("nf") / F.col("srate").cast("double"), _AUDIO_ROUND
            ).alias("duration_s"),
            F.col("srate").cast("int").alias("sample_rate"),
            "n_channels",
            half_up(
                F.sqrt(
                    F.col("s2")
                    / (F.col("n_all") * F.col("den") * F.col("den")).cast(
                        "double"
                    )
                ),
                _AUDIO_ROUND,
            ).alias("rms"),
            half_up(
                F.col("pk") / F.col("den").cast("double"), _AUDIO_ROUND
            ).alias("peak"),
        )
        .orderBy("media_id")
    )

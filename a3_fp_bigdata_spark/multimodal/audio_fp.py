"""Audio fingerprinting + audio-level near-dup dedup (mm9).

Closes the audio side of the dedup ladder the way phash.py (mm7/mm8)
closed the image side: a multimodal training corpus carries the same
duplicate shapes in audio as in images — gain-normalized rips of one
clip, resampled re-encodes, lightly-noised copies — and they must be
collapsed before captions/transcripts are trained on. The reference's
media surface is the binary-file scan + per-file features (reference
feature_extractor.py:15-34); dedup over audio is the pipeline
extension (SURVEY §6), assembled from parts the engine already
attests:

- **eHash** (envelope difference hash): stdlib WAV decode -> mono ->
  |amplitude| -> area-mean-pool to 65 equal windows -> one bit per
  adjacent-window gradient sign -> 64-bit signature. Invariant to
  gain by construction (a positive scale preserves every comparison),
  to resampling (windows are FRACTIONS of the clip, not sample
  counts), and robust to low-level noise (gradient signs survive
  until the noise floor rivals the envelope contrast).
- **pair finding**: d9's banded-hamming machinery verbatim
  (dedup._pairs_from_simhash at 8 bands x 8 bits), pigeonhole-covered
  to hamming radius <= 7 with work ∝ collisions — never all-pairs.

Scale: the fingerprint is one narrow mapInPandas over the binary
column (O(samples) per clip, no shuffle); signatures are 8 bytes/clip,
so the banded self-join shuffles hashes, never audio bytes — the same
contract mm7 states for images and SCALE.md measures for the text
rungs. Production swaps the stdlib WAV decode for a native codec
(ffmpeg/soundfile) exactly like images.decode_image documents; the
envelope math downstream of decode is already numpy.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import (
    read_stamped_scratch,
    run_scratch,
    write_scratch,
)
from a3_fp_bigdata_spark.multimodal.audio import decode_wav
from a3_fp_bigdata_spark.pickling import ship_by_value
from a3_fp_bigdata_spark.registry import pin, query

ship_by_value(__name__)  # Arrow closures must not need repo on sys.path

#: committed near-dup fixture set (tools/make_audio_neardup_fixtures.py):
#: base clips + PLANTED perturbed twins (gain-scaled, resampled, noised,
#: byte-identical copies) whose expected pair list the generator records
#: and pytest pins.
AUDIO_NEARDUP_FIXTURE_DIR = os.path.join(
    os.path.dirname(__file__), "fixtures", "audio_neardup"
)

#: 8 bands x 8 bits over the 64-bit eHash: pigeonhole covers radius 7
#: (same geometry as mm7; dedup._pairs_from_simhash holds the proof).
AUDIO_NEARDUP_BANDS = 8
AUDIO_NEARDUP_MAX_HAMMING = 7

#: 65 envelope windows -> 64 adjacent-gradient bits (the 9x8 grid of
#: dHash, flattened to one time axis).
_N_WINDOWS = 65


def envelope_hash64(x: np.ndarray) -> int:
    """(n, channels) float samples -> 64-bit envelope dHash as a
    SIGNED int (two's complement, Spark LongType-safe). The clip is
    mono-mixed, rectified, area-mean-pooled to 65 equal-fraction
    windows; bit i is 1 iff window i's mean |amplitude| > window
    i+1's. Every sample contributes to exactly one window (reduceat
    tiling — sampling would hash 65 samples and flip under 1-sample
    shifts, the same argument as phash._pool_mean)."""
    env = np.abs(x.astype(np.float64).mean(axis=1))
    n = env.shape[0]
    if n < _N_WINDOWS:  # tiny clips: exact-repeat upsample, then pool
        env = np.repeat(env, -(-_N_WINDOWS // n))
        n = env.shape[0]
    b = (np.arange(_N_WINDOWS) * n) // _N_WINDOWS
    sums = np.add.reduceat(env, b)
    counts = np.diff(np.append(b, n))
    w = sums / counts
    bits = w[:-1] > w[1:]
    val = 0
    for i, bit in enumerate(bits):
        if bit:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def audio_fp_features(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> (media_id, afp, duration_s) per clip —
    one Arrow-batched mapInPandas over the binary payloads (the same
    narrow, shuffle-free shape as audio.extract_audio_features)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fps, durs = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                x, sr = decode_wav(bytes(payload))
                ids.append(mid)
                fps.append(envelope_hash64(x))
                durs.append(round(x.shape[0] / sr, 6))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "afp": pd.array(fps, dtype="int64"),
                    "duration_s": durs,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema="media_id long, afp long, duration_s double"
    )


#: mm9 scratch — the audit-scratch pattern mm7 documents: the source
#: is the committed fixture directory (which DuckDB cannot read), and
#: the fingerprint bytes are fixture-deterministic, so the only live
#: hazard was a TORN read from a CONCURRENT process's rewrite — the
#: per-process run_scratch path removes that writer entirely. n_src
#: is stamped and BOTH engines enforce it symmetrically: the oracle's
#: WHERE n_src = count(*) and the Spark read-back's
#: read_stamped_scratch (r11, closing the r10 asymmetry where only
#: the oracle self-healed torn reads).
_MM9_AFP_SCRATCH = run_scratch("mm9_afp")


@query(
    "mm9_audio_near_dup",
    oracle=f"""
    WITH h AS (
      SELECT media_id, afp
      FROM read_parquet('{_MM9_AFP_SCRATCH}/*.parquet')
      WHERE n_src = (SELECT count(*)
                     FROM read_parquet('{_MM9_AFP_SCRATCH}/*.parquet'))
    )
    SELECT a.media_id AS media_a, b.media_id AS media_b,
           CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.afp, b.afp)) <= {AUDIO_NEARDUP_MAX_HAMMING}
    """,
)
def mm9_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup dedup over the committed fixture corpus: decode
    every WAV (stdlib codec) -> 64-bit envelope hash -> d9's banded-
    hamming pair machinery (8 bands x 8 bits) -> pairs within hamming
    {AUDIO_NEARDUP_MAX_HAMMING}. Output (media_a, media_b, hamming),
    one row per unordered near-dup pair.

    ORACLE-BACKED like mm7: Spark materializes the fingerprints to
    stamped scratch and derives its pairs FROM the materialized bytes
    via the banded join; DuckDB re-derives the pair set from the same
    bytes with an independent quadratic self-join (bit_count(xor)) —
    a banding bug is a red hash mismatch. The fingerprint VALUES are
    pinned upstream by pytest: the fixture generator plants perturbed
    twins (gain-scaled, resampled, noised, byte-identical copies),
    VERIFIES the planted/non-planted hamming margins before writing,
    and records the expected pair list.

    Scale: sf_dir-independent fixture input (like mm4/mm5/mm7)
    proving the plumbing; at corpus scale the input is a binaryFile
    scan and the banded self-join shuffles 8-byte signatures, never
    audio bytes — work ∝ collisions, the d4/d9 contract."""
    from a3_fp_bigdata_spark.multimodal.binary_files import (
        image_dir_source,
    )
    from a3_fp_bigdata_spark.operators.dedup import _pairs_from_simhash

    media = image_dir_source(
        spark, AUDIO_NEARDUP_FIXTURE_DIR, glob="*.wav"
    )
    # pin: the decode+hash frame feeds both the count stamp and the
    # scratch rows (without it the mapInPandas decode runs twice)
    hashes = pin(audio_fp_features(media).select("media_id", "afp"))
    write_scratch(hashes, _MM9_AFP_SCRATCH)
    fps = pin(
        read_stamped_scratch(spark, _MM9_AFP_SCRATCH)
        .select(
            F.col("media_id").alias("doc_id"),
            F.col("afp").alias("simhash"),
        )
    )
    pairs = _pairs_from_simhash(
        fps,
        n_bands=AUDIO_NEARDUP_BANDS,
        max_hamming=AUDIO_NEARDUP_MAX_HAMMING,
    )
    return pairs.select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        "hamming",
    )


@query(
    "mm10_audio_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE h AS (
      SELECT media_id, afp
      FROM read_parquet('{_MM9_AFP_SCRATCH}/*.parquet')
      WHERE n_src = (SELECT count(*)
                     FROM read_parquet('{_MM9_AFP_SCRATCH}/*.parquet'))
    ), pairs AS (
      SELECT a.media_id AS ma, b.media_id AS mb
      FROM h a JOIN h b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.afp, b.afp)) <= {AUDIO_NEARDUP_MAX_HAMMING}
    ), edges AS (
      SELECT ma AS src, mb AS dst FROM pairs
      UNION ALL
      SELECT mb AS src, ma AS dst FROM pairs
    ), reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
    ), labs AS (
      SELECT node, min(lab) AS lab FROM reach GROUP BY node
    )
    SELECT h.media_id,
           coalesce(l.lab, h.media_id) AS cluster_id,
           h.media_id = coalesce(l.lab, h.media_id) AS is_keeper
    FROM h LEFT JOIN labs l ON l.node = h.media_id
    """,
)
def mm10_audio_dedup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio dedup GROUPS + keeper — the cut step completing the audio
    rung exactly as mm8 completes the image rung: mm9's near-dup pairs
    collapse to connected components (dedup.connected_components,
    iterative min-label propagation), every clip gets a cluster_id
    (singletons label themselves), and the min-id member is the keeper
    a multimodal corpus retains. Output one row per clip:
    (media_id, cluster_id, is_keeper).

    ORACLE-BACKED end to end like mm8: both engines start from the
    SAME materialized fingerprint bytes (mm9's stamped scratch) and
    re-derive pairs -> components -> keeper through different math —
    Spark via the banded-hamming join + label propagation, DuckDB via
    a quadratic bit_count self-join + recursive CTE — so a banding
    loss, a propagation bug, or a wrong keeper rule all land as a red
    hash mismatch. Scale: identical to mm8 — the propagation shuffles
    the 8-byte-signature edge list per round (rounds = component
    diameter; perturbed-twin groups are cliques), never audio bytes."""
    from a3_fp_bigdata_spark.operators.dedup import connected_components

    pairs = mm9_audio_near_dup(spark, sf_dir).select(
        F.col("media_a").alias("doc_a"),
        F.col("media_b").alias("doc_b"),
    )
    labels, _ = connected_components(spark, pairs)
    all_media = read_stamped_scratch(spark, _MM9_AFP_SCRATCH).select("media_id")
    cluster = F.coalesce(F.col("lab"), F.col("media_id"))
    return all_media.join(
        labels.withColumnRenamed("doc_id", "media_id"), "media_id", "left"
    ).select(
        "media_id",
        cluster.alias("cluster_id"),
        (F.col("media_id") == cluster).alias("is_keeper"),
    )

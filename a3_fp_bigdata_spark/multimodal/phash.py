"""Perceptual hashing + image-level near-dup dedup (mm7).

Closes the image side of the dedup ladder: the text rungs (d1-d16)
remove exact/near/span duplicates from a text corpus; multimodal
training corpora need the SAME pass over images — re-encoded copies,
brightness/contrast-shifted rips, resized thumbnails of one another —
before captions/labels are trained on. The reference's image surface
is the Icons-50 table + per-icon features (reference
feature_extractor.py:15-34); dedup over it is the pipeline extension
(SURVEY §6), built from parts the engine already attests:

- **dHash** (difference hash): decode -> ITU-R 601 luma -> mean-pool
  to 9x8 -> one bit per horizontal gradient sign -> 64-bit signature.
  Scale-invariant by construction (everything pools to 9x8), robust
  to brightness shifts (gradients survive +b until clipping) and to
  re-encoding (lossless codecs preserve pixels exactly; JPEG noise
  flips only near-tie gradients).
- **pair finding**: d9's banded-hamming machinery verbatim
  (dedup._pairs_from_simhash at 8 bands x 8 bits), so the pigeonhole
  guarantee covers hamming radius <= 7 with work ∝ collisions — the
  same never-all-pairs shape the text rungs measure in SCALE.md.

Scale: the hash is one narrow mapInPandas over the binary column
(O(pixels) per image, no shuffle); signatures are 8 bytes/image, so
10^10 images is 80 GB of hashes — the banded self-join shuffles THAT,
never the image bytes. Production swaps the pure-python decode for a
native library exactly like images.decode_image documents; the
hashing math downstream of decode is already numpy.
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
from a3_fp_bigdata_spark.multimodal.images import decode_image, resize_nn
from a3_fp_bigdata_spark.pickling import ship_by_value
from a3_fp_bigdata_spark.registry import query

ship_by_value(__name__)  # Arrow closures must not need repo on sys.path

#: committed near-dup fixture set (tools/make_image_neardup_fixtures.py):
#: base patterns + PLANTED perturbed twins (re-encoded copies, brightness
#: shifts) whose expected pair list the generator records and pytest pins.
NEARDUP_FIXTURE_DIR = os.path.join(
    os.path.dirname(__file__), "fixtures", "neardup"
)

#: 8 bands x 8 bits over the 64-bit dHash: pigeonhole covers radius 7.
IMG_NEARDUP_BANDS = 8
IMG_NEARDUP_MAX_HAMMING = 7


def luma(arr: np.ndarray) -> np.ndarray:
    """HxWx3 uint8 -> HxW float64 ITU-R BT.601 luma."""
    a = arr.astype(np.float64)
    return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]


def _pool_mean(g: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area mean-pool a 2-D array to (out_h, out_w) — each output cell
    averages its whole source tile (integer-boundary tiling), so the
    signature sees every pixel; nearest-neighbor sampling would hash
    only out_h*out_w pixels and flip bits under 1-px shifts."""
    h, w = g.shape
    if h < out_h or w < out_w:
        # tiny inputs: NN-upscale to the grid first (exactly repeats
        # pixels, so pooling back is well-defined and deterministic)
        g3 = np.repeat(g[:, :, None], 3, axis=2)
        g = resize_nn(g3, max(h, out_h), max(w, out_w))[:, :, 0].astype(
            np.float64
        )
        h, w = g.shape
    rb = (np.arange(out_h) * h) // out_h
    cb = (np.arange(out_w) * w) // out_w
    s = np.add.reduceat(np.add.reduceat(g, rb, axis=0), cb, axis=1)
    counts = np.outer(
        np.diff(np.append(rb, h)), np.diff(np.append(cb, w))
    )
    return s / counts


def dhash64(arr: np.ndarray) -> int:
    """HxWx3 uint8 -> 64-bit dHash as a SIGNED int (two's complement,
    Spark LongType-safe). Bit r*8+c is 1 iff pooled luma[r][c] >
    luma[r][c+1] on the 8x9 grid."""
    p = _pool_mean(luma(arr), 8, 9)
    bits = p[:, :-1] > p[:, 1:]  # 8x8 horizontal gradient signs
    val = 0
    for i, b in enumerate(bits.reshape(-1)):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def phash_features(media: DataFrame) -> DataFrame:
    """(media_id, dhash, img_width, img_height) per image — one
    Arrow-batched mapInPandas over the binary payloads (the same
    narrow, shuffle-free shape as images.extract_features)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes, ws, hs = [], [], [], []
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                arr = decode_image(bytes(payload), mtype)
                ids.append(mid)
                hashes.append(dhash64(arr))
                ws.append(arr.shape[1])
                hs.append(arr.shape[0])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "dhash": pd.array(hashes, dtype="int64"),
                    "img_width": ws,
                    "img_height": hs,
                }
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, dhash long, img_width int, img_height int",
    )


#: mm7 scratch — the audit-scratch pattern (per-process run_scratch path the oracle
#: SQL can name). The d4/d9-style (n_src, src_ck) STALENESS guard has
#: no live anchor here: the source is the committed fixture directory,
#: which DuckDB cannot read, and the hash bytes are fixture-
#: deterministic (same files -> same rows from any process), so a
#: concurrent writer produces identical bytes rather than foreign
#: ones. n_src is still stamped, and since r11 BOTH engines enforce
#: it symmetrically (the oracle's WHERE n_src = count(*), the Spark
#: read-back's read_stamped_scratch), so a TORN read — rows from two
#: different fixture generations — disagrees loudly on either side.
_MM7_PHASH_SCRATCH = run_scratch("mm7_phash")


@query(
    "mm7_image_near_dup",
    oracle=f"""
    WITH h AS (
      SELECT media_id, dhash
      FROM read_parquet('{_MM7_PHASH_SCRATCH}/*.parquet')
      WHERE n_src = (SELECT count(*)
                     FROM read_parquet('{_MM7_PHASH_SCRATCH}/*.parquet'))
    )
    SELECT a.media_id AS media_a, b.media_id AS media_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= {IMG_NEARDUP_MAX_HAMMING}
    """,
)
def mm7_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup over the committed fixture corpus: decode
    every image (pure-python codecs, PIL when present) -> 64-bit dHash
    -> d9's banded-hamming pair machinery (8 bands x 8 bits) -> pairs
    within hamming {IMG_NEARDUP_MAX_HAMMING}. Output (media_a,
    media_b, hamming), one row per unordered near-dup pair.

    ORACLE-BACKED like the d9 audit: Spark materializes the hashes to
    fingerprinted scratch and derives its pairs FROM the materialized
    bytes via the banded join; DuckDB re-derives the pair set from the
    same bytes with an independent quadratic self-join
    (bit_count(xor)) — a banding bug (wrong band split, lost bucket,
    wrong radius) is a red hash mismatch. The hash VALUES themselves
    are pinned upstream by pytest: the fixture generator plants
    perturbed twins (re-encoded copies, brightness shifts) and records
    the expected pair list, so a broken dHash fails the planted-pair
    pin even though both engines would agree on pairs-from-hashes.

    Scale: sf_dir-independent fixture input (like mm4/mm6) proving the
    plumbing; at corpus scale the input is a binaryFile scan and the
    banded self-join shuffles 8-byte signatures, never image bytes —
    work ∝ collisions, the d4/d9 contract."""
    from a3_fp_bigdata_spark.multimodal.binary_files import (
        image_dir_source,
    )
    from a3_fp_bigdata_spark.operators.dedup import _pairs_from_simhash
    from a3_fp_bigdata_spark.registry import pin

    media = image_dir_source(
        spark, NEARDUP_FIXTURE_DIR, glob="*.{png,jpg,jpeg,gif,bmp,tif,tiff}"
    )
    # pin: the decode+hash frame feeds both the count stamp and the
    # scratch rows (without it the mapInPandas decode runs twice)
    hashes = pin(phash_features(media).select("media_id", "dhash"))
    write_scratch(hashes, _MM7_PHASH_SCRATCH)
    fps = pin(
        read_stamped_scratch(spark, _MM7_PHASH_SCRATCH)
        .select(
            F.col("media_id").alias("doc_id"),
            F.col("dhash").alias("simhash"),
        )
    )
    pairs = _pairs_from_simhash(
        fps,
        n_bands=IMG_NEARDUP_BANDS,
        max_hamming=IMG_NEARDUP_MAX_HAMMING,
    )
    return pairs.select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        "hamming",
    )


@query(
    "mm8_image_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE h AS (
      SELECT media_id, dhash
      FROM read_parquet('{_MM7_PHASH_SCRATCH}/*.parquet')
      WHERE n_src = (SELECT count(*)
                     FROM read_parquet('{_MM7_PHASH_SCRATCH}/*.parquet'))
    ), pairs AS (
      SELECT a.media_id AS ma, b.media_id AS mb
      FROM h a JOIN h b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= {IMG_NEARDUP_MAX_HAMMING}
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
def mm8_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup GROUPS + keeper — the cut step completing the image
    rung the way d12/d13 complete the text rung: mm7's near-dup pairs
    collapse to connected components (dedup.connected_components, the
    same iterative min-label propagation), every image gets a
    cluster_id (singletons label themselves), and the min-id member is
    the keeper a multimodal corpus retains. Output one row per image:
    (media_id, cluster_id, is_keeper).

    ORACLE-BACKED end to end: both engines start from the SAME
    materialized hash bytes (mm7's fingerprinted scratch) and re-derive
    pairs -> components -> keeper through different math — Spark via
    the banded-hamming join + label propagation, DuckDB via a quadratic
    bit_count self-join + recursive CTE — so a banding loss, a
    propagation bug, or a wrong keeper rule all land as a red hash
    mismatch. Scale: component count tracks planted-twin groups; the
    propagation shuffles the EDGE list per round (rounds = component
    diameter, cliques-ish here, see SCALE.md's CC rung), never the
    image bytes."""
    from a3_fp_bigdata_spark.operators.dedup import connected_components

    pairs = mm7_image_near_dup(spark, sf_dir).select(
        F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b")
    )
    labels, _ = connected_components(spark, pairs)
    all_media = read_stamped_scratch(spark, _MM7_PHASH_SCRATCH).select("media_id")
    cluster = F.coalesce(F.col("lab"), F.col("media_id"))
    return (
        all_media.join(
            labels.withColumnRenamed("doc_id", "media_id"), "media_id", "left"
        )
        .select(
            "media_id",
            cluster.alias("cluster_id"),
            (F.col("media_id") == cluster).alias("is_keeper"),
        )
    )


# ---------------------------------------------------------------------------
# mm11: multimodal split-leakage audit (pk7's contract applied to media)
# ---------------------------------------------------------------------------

#: Validation share for the media train/val split. 25 (vs pk4's 5%
#: for documents) because the committed fixture corpora are tens of
#: files: at 25 the planted near-dup pairs land on BOTH sides of the
#: boundary — straddling pairs (leaks) AND same-side pairs (correctly
#: not flagged) — so the audit's filter is exercised in both
#: directions. The predicate is pk4's multiplicative hash verbatim
#: over abs(media_id) (media ids are xxhash64 of the filename, so
#: signed — abs keeps the percentile arithmetic in the non-negative
#: band where both engines' % agree by construction rather than by
#: C-remainder coincidence).
MEDIA_VAL_PCT = 25


def _media_split_sql(col: str) -> str:
    from a3_fp_bigdata_spark.operators.text_analysis import (
        SAMPLE_MULT,
        SAMPLE_PREMOD,
    )

    return (
        f"((abs({col}) % {SAMPLE_PREMOD}) * {SAMPLE_MULT}) % 100"
        f" < {MEDIA_VAL_PCT}"
    )


def _mm11_oracle() -> str:
    from a3_fp_bigdata_spark.multimodal.audio_fp import (
        _MM9_AFP_SCRATCH,
        AUDIO_NEARDUP_MAX_HAMMING,
    )

    return f"""
    WITH ih AS (
      SELECT media_id, dhash
      FROM read_parquet('{_MM7_PHASH_SCRATCH}/*.parquet')
      WHERE n_src = (SELECT count(*)
                     FROM read_parquet('{_MM7_PHASH_SCRATCH}/*.parquet'))
    ), ah AS (
      SELECT media_id, afp
      FROM read_parquet('{_MM9_AFP_SCRATCH}/*.parquet')
      WHERE n_src = (SELECT count(*)
                     FROM read_parquet('{_MM9_AFP_SCRATCH}/*.parquet'))
    ), allpairs AS (
      SELECT 'image' AS modality, a.media_id AS ma, b.media_id AS mb,
             CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
      FROM ih a JOIN ih b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= {IMG_NEARDUP_MAX_HAMMING}
      UNION ALL
      SELECT 'audio', a.media_id, b.media_id,
             CAST(bit_count(xor(a.afp, b.afp)) AS INT)
      FROM ah a JOIN ah b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.afp, b.afp)) <= {AUDIO_NEARDUP_MAX_HAMMING}
    ), tagged AS (
      SELECT modality, ma, mb, hamming,
             {_media_split_sql('ma')} AS va,
             {_media_split_sql('mb')} AS vb
      FROM allpairs
    )
    SELECT modality,
           CASE WHEN va THEN mb ELSE ma END AS train_media,
           CASE WHEN va THEN ma ELSE mb END AS val_media,
           hamming
    FROM tagged WHERE va <> vb
    """


@query("mm11_media_split_leakage", oracle=_mm11_oracle())
def mm11_media_split_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multimodal split-leakage audit — pk7's cross-split
    contamination contract applied to media: image (mm7 dHash) and
    audio (mm9 envelope-hash) near-dup pairs whose members land on
    OPPOSITE sides of the deterministic train/validation split. Each
    row is a leak: a benchmark image/clip whose near-verbatim twin
    trains — exactly how multimodal eval contamination ships. Output
    (modality, train_media, val_media, hamming); the downstream fix
    anti-joins the val manifest on val_media, like pk7's.

    ORACLE-BACKED via both modalities' materialized fingerprint
    scratches: Spark derives pairs through the banded-hamming join
    and filters with the split predicate; DuckDB re-derives the pair
    sets from the SAME hash bytes with independent quadratic
    bit_count(xor) joins and applies the same CASE — a banding bug or
    a split-predicate drift on either modality is a red mismatch.

    Scale: the split test adds ZERO shuffle on top of the near-dup
    pair tables (both predicates are scan-time arithmetic on the
    pair's ids — pk7's argument verbatim); the pair tables shuffle
    8-byte signatures, never media bytes. Run per snapshot AFTER any
    split re-assignment, not just after ingest."""
    from a3_fp_bigdata_spark.multimodal.audio_fp import (
        mm9_audio_near_dup,
    )
    from a3_fp_bigdata_spark.operators.text_analysis import (
        sample_predicate,
    )

    img = mm7_image_near_dup(spark, sf_dir).select(
        F.lit("image").alias("modality"), "media_a", "media_b", "hamming"
    )
    aud = mm9_audio_near_dup(spark, sf_dir).select(
        F.lit("audio").alias("modality"), "media_a", "media_b", "hamming"
    )
    pairs = img.unionByName(aud)
    va = sample_predicate(F.abs(F.col("media_a")), MEDIA_VAL_PCT)
    vb = sample_predicate(F.abs(F.col("media_b")), MEDIA_VAL_PCT)
    return pairs.filter(va != vb).select(
        "modality",
        F.when(va, F.col("media_b"))
        .otherwise(F.col("media_a"))
        .alias("train_media"),
        F.when(va, F.col("media_a"))
        .otherwise(F.col("media_b"))
        .alias("val_media"),
        "hamming",
    )

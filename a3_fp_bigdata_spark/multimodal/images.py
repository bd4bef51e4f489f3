"""Image/video operators over binary columns (north-star multimodal).

Data model: media rows are ``(id, payload: binary, media_type: string,
meta: struct)`` — payloads stay opaque bytes end-to-end in the JVM and
cross to Python only inside Arrow batches (``mapInPandas``), never
row-at-a-time. This mirrors the reference's offline feature extraction
(reference feature_extractor.py:15-34: decode -> per-channel mean ->
width/height -> parquet side table) re-expressed distributed.

Decode dispatch is keyed on media_type: ``image/fake`` always uses
the deterministic stub (synthetic media_table payloads are text bytes
PIL could never open — the stub exists so the Arrow plumbing is
testable on them); real formats prefer PIL when installed; PNG, JPEG
and GIF additionally decode for REAL without PIL via the pure-python
codecs (png_codec.py, jpeg_codec.py, gif_codec.py — exercised by the
committed fixtures through binary_files.image_dir_source); other real
formats without PIL raise NotImplementedError rather than guessing.

Scale notes: mapInPandas streams Arrow record batches (bounded by
spark.sql.execution.arrow.maxRecordsPerBatch), so executor memory is
O(batch), not O(partition). Feature extraction is narrow (no shuffle);
the output feature table is a broadcast-joinable dimension exactly like
the reference's image_features.parquet (spark_script.py:24, 176).

Production codec note: the pure-python PNG/JPEG decoders exist because
this container has no imaging library — they are the FIXTURE/TEST path,
proving the Spark-side plumbing (schema, partitioning, Arrow batch
shape) with real bytes. At 100 TB, per-pixel Python — even Arrow-batched
— is the bottleneck; a production deployment swaps `decode_image`'s
interior for a native library (PIL-SIMD / libvips / GPU nvJPEG) with
ZERO plan changes: the dispatch already prefers PIL when importable, and
everything outside the decode call (mapInPandas shape, feature schema,
broadcast-dimension output) is codec-agnostic.
"""

from __future__ import annotations

import io
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from a3_fp_bigdata_spark.data import table
from a3_fp_bigdata_spark.multimodal.png_codec import decode_png
from a3_fp_bigdata_spark.registry import query

from a3_fp_bigdata_spark.pickling import ship_by_value

ship_by_value(__name__)  # Arrow closures must not need repo on sys.path

try:  # pragma: no cover - not installed in this container
    from PIL import Image

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

try:  # libwebp ctypes lane (r12) — absent on minimal boxes. Only the
    # BOOL lives at module scope: this module ships by value into Arrow
    # workers, and a captured webp_native module would drag its ctypes
    # CDLL (unpicklable pointers) into the closure. The binding itself
    # is re-imported lazily inside _decode_webp_engine, so each worker
    # process binds its own handle.
    from a3_fp_bigdata_spark.multimodal import webp_native as _wn

    HAVE_LIBWEBP = _wn.HAVE_LIBWEBP
    del _wn
except Exception:  # pragma: no cover - defensive import guard
    HAVE_LIBWEBP = False


# ---------------------------------------------------------------------------
# Decoders (the stubbed boundary)
# ---------------------------------------------------------------------------


def decode_image(payload: bytes, media_type: str = "image/fake") -> np.ndarray:
    """payload -> HxWx3 uint8 array.

    ``image/fake``: deterministic stub — dimensions derive from payload
    length/first byte, pixels are the payload bytes cycled. Real formats
    need PIL (feature_extractor.py:20's ``Image.open().convert('RGB')``)
    and raise NotImplementedError here when PIL is absent.
    """
    if media_type == "image/fake":
        if not payload:
            return np.zeros((1, 1, 3), dtype=np.uint8)
        h = 16 + (len(payload) % 48)
        w = 16 + (payload[0] % 48)
        return np.resize(np.frombuffer(payload, dtype=np.uint8), (h, w, 3))
    if media_type == "image/webp":
        # NEVER PIL for WebP (ADVICE r12, medium): PIL's lossy RGB goes
        # through libwebp's fancy upsampler, which structurally differs
        # from the engine's pinned nearest-neighbor yuv_to_rgb — feature
        # values (mm16) would silently drift per environment. The engine
        # lane is deterministic everywhere: libwebp-via-shared-YUV when
        # the ctypes lane is bound (DECODE_BENCH.md: ~212x), else the
        # pure codecs — identical output either way.
        return _decode_webp_engine(payload)
    if HAVE_PIL:  # pragma: no cover - preferred path when installed
        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    return decode_image_pure(payload, media_type)


def _decode_webp_engine(payload: bytes) -> np.ndarray:
    """The engine's WebP lane: output is pinned bit-identical between
    the native (libwebp ctypes) and pure paths, so the dispatch is a
    pure speed choice. Lossy stills decode natively to YUV and convert
    through the SHARED vp8_codec.yuv_to_rgb (fast == pure exactly);
    lossless stills use libwebp's exact RGBA surface (lossless decode
    admits no variance). Anything else — animation, malformed
    containers — goes to the pure codecs, which either decode or raise
    the honest boundary error."""
    from a3_fp_bigdata_spark.multimodal.webp_codec import decode_webp

    if HAVE_LIBWEBP:
        from a3_fp_bigdata_spark.multimodal import webp_native

        base, animated = _webp_container_probe(payload)
        if not animated:
            if base == b"VP8 ":
                return webp_native.decode_rgb_via_yuv(payload)
            if base == b"VP8L":
                return webp_native.decode_rgba(payload)[..., :3].copy()
    return decode_webp(payload)


def _webp_container_probe(payload: bytes) -> tuple[bytes | None, bool]:
    """(base bitstream tag, is_animated) from a cheap chunk walk —
    enough to decide whether the native still-image lane applies."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None, False
    from a3_fp_bigdata_spark.multimodal.webp_codec import _walk_chunks

    base = None
    animated = False
    for tag, _body in _walk_chunks(payload):
        if tag in (b"ANIM", b"ANMF"):
            animated = True
        elif tag in (b"VP8 ", b"VP8L") and base is None:
            base = tag
    return base, animated


def decode_image_pure(payload: bytes, media_type: str) -> np.ndarray:
    """The pure-python decode dispatch, callable even when PIL is
    installed — the correctness REFERENCE for the native fast path.
    test_multimodal's env-gated equality test pins
    decode_image_pure == PIL on every committed fixture (exact for the
    lossless codecs, ±small-IDCT tolerance for JPEG), the same gate
    shape as the live-Kafka test; tools/decode_bench.py times both."""
    if media_type == "image/png":
        # real decode, no image libs: stdlib zlib + the PNG spec
        return decode_png(payload)
    if media_type in ("image/jpeg", "image/jpg"):
        # real decode, no image libs: baseline sequential per ITU T.81
        from a3_fp_bigdata_spark.multimodal.jpeg_codec import decode_jpeg

        return decode_jpeg(payload)
    if media_type == "image/gif":
        # real decode, no image libs: GIF87a/89a + LZW per the public
        # spec; frame 0 (PIL's convert('RGB') on an animation does the
        # same)
        from a3_fp_bigdata_spark.multimodal.gif_codec import decode_gif

        return decode_gif(payload)
    if media_type in ("image/bmp", "image/x-ms-bmp"):
        # real decode, no image libs: Windows DIB (24/32-bit BI_RGB +
        # 1/4/8-bit paletted, both row orders)
        from a3_fp_bigdata_spark.multimodal.bmp_codec import decode_bmp

        return decode_bmp(payload)
    if media_type in ("image/tiff", "image/tif"):
        # real decode, no image libs: TIFF 6.0 uncompressed baseline
        # (both byte orders, strips, RGB/gray/palette)
        from a3_fp_bigdata_spark.multimodal.tiff_codec import decode_tiff

        return decode_tiff(payload)
    if media_type in ("image/ico", "image/x-icon", "image/vnd.microsoft.icon"):
        # real decode, no image libs: ICONDIR container -> largest
        # entry -> png_codec or the headerless-DIB path (ico_codec)
        from a3_fp_bigdata_spark.multimodal.ico_codec import decode_ico

        return decode_ico(payload)
    if media_type == "image/webp":
        # real decode, no image libs: the FULL still surface — lossless
        # VP8L (prefix codes, LZ77 + color cache, all transforms, pixel
        # bundling), lossy VP8 keyframes (vp8_codec, RFC 6386,
        # libwebp-bit-exact at YUV level), and VP8X extended stills with
        # ALPH alpha planes (alpha dropped here, convert('RGB'))
        from a3_fp_bigdata_spark.multimodal.webp_codec import decode_webp

        return decode_webp(payload)
    raise NotImplementedError(
        f"decoding {media_type!r} requires PIL, which is not installed; "
        "'image/png', 'image/jpeg', 'image/gif', 'image/bmp', 'image/tiff', "
        "'image/ico', 'image/webp' (pure-python codecs) and 'image/fake' "
        "work without it"
    )


def resize_nn(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize — pure numpy, no libs. The index math is
    the real thing; a production decoder swaps in a filtered resampler."""
    h, w = arr.shape[:2]
    rows = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    cols = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return arr[rows][:, cols]


# ---------------------------------------------------------------------------
# Media table synthesis (binary column plumbing over driver testdata)
# ---------------------------------------------------------------------------


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> media rows: text bytes stand in for an image payload
    (opaque to the engine, exactly like real image bytes would be).
    ``meta`` carries the typed metadata a lakehouse media table needs."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("lang").alias("lang"),
            F.length(F.encode("text", "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# mapInPandas operators
# ---------------------------------------------------------------------------

_FEATURE_SCHEMA = (
    "media_id long, img_avg_red double, img_avg_green double, "
    "img_avg_blue double, img_width int, img_height int"
)


def extract_features(media: DataFrame) -> DataFrame:
    """Per-image channel means + dimensions (feature_extractor.py:22-31)
    as an Arrow-batched mapInPandas — the engine's one genuine UDF
    (SURVEY §2.10)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list[Any]] = {
                k: []
                for k in (
                    "media_id", "img_avg_red", "img_avg_green",
                    "img_avg_blue", "img_width", "img_height",
                )
            }
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                arr = decode_image(bytes(payload), mtype)
                means = arr.reshape(-1, 3).mean(axis=0)
                out["media_id"].append(mid)
                out["img_avg_red"].append(float(means[0]))
                out["img_avg_green"].append(float(means[1]))
                out["img_avg_blue"].append(float(means[2]))
                out["img_width"].append(arr.shape[1])
                out["img_height"].append(arr.shape[0])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=_FEATURE_SCHEMA)


_PIXEL_SCHEMA = "media_id long, y int, x int, r int, g int, b int"


def pixel_rows(media: DataFrame) -> DataFrame:
    """Decode -> one row per pixel (media_id, y, x, r, g, b) — the
    scratch-oracle materialization behind the fixture-directory
    feature queries (mm4/mm12/mm14): Spark AND DuckDB re-aggregate
    channel means and dimensions from these integer rows
    independently, so the feature derivation is cross-checked (the
    mm7 pattern: scratch carries decoded values, each engine does its
    own downstream math). Audit-scale machinery: pixel explosion is
    proportionate for fixture corpora and CI attestation; the
    production feature path stays extract_features (one aggregate
    inside the Arrow batch, mm2)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            frames: list[pd.DataFrame] = []
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                arr = decode_image(bytes(payload), mtype)
                h, w = arr.shape[:2]
                yy, xx = np.divmod(
                    np.arange(h * w, dtype=np.int32), np.int32(w)
                )
                flat = arr.reshape(-1, 3).astype(np.int32)
                frames.append(
                    pd.DataFrame(
                        {
                            "media_id": np.full(h * w, mid, dtype=np.int64),
                            "y": yy,
                            "x": xx,
                            "r": flat[:, 0],
                            "g": flat[:, 1],
                            "b": flat[:, 2],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return media.mapInPandas(batches, schema=_PIXEL_SCHEMA)


_FRAME_PIXEL_SCHEMA = (
    "media_id long, frame_idx int, n_frames int, "
    "y int, x int, r int, g int, b int"
)


def frame_pixel_rows(media: DataFrame, decode_frames) -> DataFrame:
    """pixel_rows' animation twin: every composited frame of every
    container explodes to per-pixel rows tagged (frame_idx, n_frames)
    — the scratch both engines re-aggregate per-frame features from
    (mm6/mm13)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            frames: list[pd.DataFrame] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                decoded = decode_frames(bytes(payload))
                for i, arr in enumerate(decoded):
                    h, w = arr.shape[:2]
                    yy, xx = np.divmod(
                        np.arange(h * w, dtype=np.int32), np.int32(w)
                    )
                    flat = arr.reshape(-1, 3).astype(np.int32)
                    frames.append(
                        pd.DataFrame(
                            {
                                "media_id": np.full(
                                    h * w, mid, dtype=np.int64
                                ),
                                "frame_idx": np.full(
                                    h * w, i, dtype=np.int32
                                ),
                                "n_frames": np.full(
                                    h * w, len(decoded), dtype=np.int32
                                ),
                                "y": yy,
                                "x": xx,
                                "r": flat[:, 0],
                                "g": flat[:, 1],
                                "b": flat[:, 2],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return media.mapInPandas(batches, schema=_FRAME_PIXEL_SCHEMA)


def resize_images(media: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Decode -> nearest-neighbor resize -> re-encode as raw RGB bytes.
    Output payloads are exactly out_h*out_w*3 bytes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [
                resize_nn(
                    decode_image(bytes(p), t), out_h, out_w
                ).tobytes()
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": resized,
                    "height": out_h,
                    "width": out_w,
                }
            )

    return media.mapInPandas(
        batches, schema="media_id long, payload binary, height int, width int"
    )


def frame_sample(
    media: DataFrame, frame_bytes: int, every_n: int
) -> DataFrame:
    """Video analog: treat payload as concatenated fixed-size frames and
    keep every n-th (one output row per kept frame). A real video
    pipeline swaps the byte-slicing for a container-aware demuxer; the
    explode-to-frames plumbing is the part that matters at scale."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = len(b) // frame_bytes
                for i in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(b[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(
        batches, schema="media_id long, frame_idx int, frame binary"
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@query(
    "mm1_binary_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           count(*) OVER (PARTITION BY lang) AS lang_total
    FROM documents
    """,
)
def mm1_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata access over the binary table: payload sizes + a
    per-language window count, all JVM-side (binary never crosses to
    Python)."""
    media = media_table(spark, sf_dir)
    from pyspark.sql import Window

    return media.select(
        "media_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.count("*")
        .over(Window.partitionBy("meta.lang"))
        .alias("lang_total"),
    )


@query("mm2_image_features")
def mm2_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's icon-feature extraction re-expressed: binary
    payloads -> mapInPandas decode (stub) -> per-channel means +
    dimensions. Rows-only: the fake decoder's pixel math is not
    SQL-expressible; pytest pins exact values against a pure-python
    reimplementation."""
    return extract_features(media_table(spark, sf_dir))


@query(
    "mm3_resize_probe",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(192 AS INT) AS payload_bytes,
           CAST(8 AS INT) AS height,
           CAST(8 AS INT) AS width
    FROM documents
    """,
)
def mm3_resize_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every image to 8x8 and return byte-length proof rows
    (payload sizes are schema-determined: 8*8*3).

    ORACLE-BACKED since r13 as a CONTRACT oracle: the decode+resize
    really runs (Arrow mapInPandas over every payload), and the oracle
    states the output contract — full media coverage (one row per
    document, hash-checked on media_id) and the schema-determined
    sizes. The resize INDEX MATH itself is value-attested
    cross-engine by mm19_resize_attested (DuckDB replays the
    nearest-neighbor selection from the pixel scratch) and pinned by
    the resize_nn pytest goldens."""
    resized = resize_images(media_table(spark, sf_dir), 8, 8)
    return resized.select(
        "media_id", F.length("payload").alias("payload_bytes"), "height", "width"
    )

"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns
with a metadata struct; decode / feature-extraction / resize /
frame-sampling run as Arrow-batched ``mapInPandas`` transforms.

Decode is REAL for every format the synthetic corpus emits: PPM, BMP,
PNG (zlib inflate + all five filter types) and baseline JPEG (from-
spec Huffman + IDCT codec, ``functions/jpeg.py``) decode to pixels
with genuine pixel statistics (``functions/imaging.py``); RIFF/WAVE
PCM16 decodes to samples with genuine signal statistics
(``functions/audio.py``); PVID video decodes to frames — all through
the same Arrow seam a PIL/torchaudio/pyav decoder would plug into.
The only remaining ``NotImplementedError`` seams are lossy audio the
sandbox genuinely cannot decode — MP3/AAC/Opus (progressive JPEG
decodes for real since r4; chroma-subsampled JPEG and lossless FLAC
since r5) — and
``decode_features(..., stub=True)`` produces a deterministic
content-derived fake for those.  Everything Spark-side — schema,
batch shape, partition behavior, UDF signature — is identical for the
stub and real paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)

_MEDIA_TYPES = ("image", "audio", "video")


def synthesize_media_table(docs: DataFrame) -> DataFrame:
    """Deterministic media rows for every media span in a docs table.

    Image rows carry REAL decodable payloads — deterministic test
    patterns encoded as binary PPM or 24-bit BMP (format chosen by the
    ref hash, so both codec paths are exercised) with small honest
    dimensions in ``meta``.  Audio rows carry REAL RIFF/WAVE PCM16
    payloads (``functions/audio.py``) with honest sample-derived
    ``duration_ms``.  Video rows carry REAL PVID frame containers
    (``functions/imaging.py``: timed PPM frame sequence) with honest
    per-frame dimensions and ``duration_ms = n_frames * frame_ms``.
    All selection math (type, dims, rates, frame counts, seeds,
    format) is JVM column arithmetic; only the pixel/sample-byte
    materialization runs in Python, Arrow-batched.
    """
    span = F.explode("spans").alias("span")
    media = docs.select("doc_id", span).where(F.col("span.kind") == "media")
    h = F.xxhash64("span.media_ref")
    mtype = F.element_at(
        F.array(*[F.lit(t) for t in _MEDIA_TYPES]),
        (F.pmod(h, F.lit(3)) + 1).cast("int"),
    )
    is_image = mtype == "image"
    is_audio = mtype == "audio"
    is_video = mtype == "video"
    rate = F.when(
        is_audio,
        F.element_at(
            F.array(F.lit(8000), F.lit(16000)), (F.pmod(h, F.lit(2)) + 1).cast("int")
        ),
    ).otherwise(F.lit(0))
    nsamp = F.when(is_audio, (F.pmod(h, F.lit(4000)) + 400).cast("int")).otherwise(
        F.lit(0)
    )
    n_frames = F.when(is_video, (F.pmod(h, F.lit(4)) + 2).cast("int")).otherwise(
        F.lit(0)
    )
    frame_ms = F.when(
        is_video,
        F.element_at(
            F.array(F.lit(250), F.lit(500)), (F.pmod(h, F.lit(2)) + 1).cast("int")
        ),
    ).otherwise(F.lit(0))
    base = media.select(
        F.col("span.media_ref").alias("media_ref"),
        "doc_id",
        mtype.alias("media_type"),
        F.when(is_image, F.pmod(h, F.lit(40)).cast("int") + 8)
        .when(is_video, F.pmod(h, F.lit(24)).cast("int") + 8)
        .otherwise((F.pmod(h, F.lit(1920)) + 1).cast("int"))
        .alias("width"),
        F.when(is_image, F.pmod(h, F.lit(24)).cast("int") + 8)
        .when(is_video, F.pmod(h, F.lit(16)).cast("int") + 8)
        .otherwise((F.pmod(h, F.lit(1080)) + 1).cast("int"))
        .alias("height"),
        # audio/video durations are honest: sample- / frame-derived
        F.when(is_audio, F.floor(nsamp * F.lit(1000) / rate))
        .when(is_video, n_frames * frame_ms)
        .otherwise(F.pmod(h, F.lit(600000)) + 1)
        .cast("int")
        .alias("duration_ms"),
        F.when(is_image, F.when(F.pmod(h, F.lit(2)) == 0, F.lit("ppm")).otherwise(F.lit("bmp")))
        .when(is_audio, F.lit("wav"))
        .otherwise(F.lit("pvid"))
        .alias("codec"),
        F.pmod(h, F.lit(256)).cast("int").alias("_s0"),
        F.pmod(h, F.lit(251)).cast("int").alias("_s1"),
        F.pmod(h, F.lit(241)).cast("int").alias("_s2"),
        rate.alias("_rate"),
        nsamp.alias("_nsamp"),
        n_frames.alias("_nf"),
        frame_ms.alias("_fms"),
    )

    def batches(it):
        from turtle_spark.functions import audio, imaging

        for pdf in it:
            payloads = []
            for ref, mt, codec, w, hgt, s0, s1, s2, sr, ns, nf, fms in zip(
                pdf["media_ref"], pdf["media_type"], pdf["codec"],
                pdf["width"], pdf["height"], pdf["_s0"], pdf["_s1"], pdf["_s2"],
                pdf["_rate"], pdf["_nsamp"], pdf["_nf"], pdf["_fms"],
            ):
                if mt == "image":
                    img = imaging.synth_pixels(
                        int(w), int(hgt), int(s0), int(s1), int(s2)
                    )
                    payloads.append(
                        imaging.encode_ppm(img)
                        if codec == "ppm"
                        else imaging.encode_bmp(img)
                    )
                elif mt == "audio":
                    samples = audio.synth_pcm(int(ns), int(s0), int(s1))
                    payloads.append(audio.encode_wav(samples, int(sr)))
                else:
                    frames = [
                        imaging.synth_pixels(
                            int(w), int(hgt), (int(s0) + 17 * f) % 256,
                            int(s1), int(s2),
                        )
                        for f in range(int(nf))
                    ]
                    payloads.append(imaging.encode_pvid(frames, int(fms)))
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": payloads,
                    "meta": [
                        {
                            "width": int(w),
                            "height": int(hgt),
                            "duration_ms": int(d),
                            "codec": c,
                        }
                        for w, hgt, d, c in zip(
                            pdf["width"], pdf["height"],
                            pdf["duration_ms"], pdf["codec"],
                        )
                    ],
                }
            )

    return base.mapInPandas(batches, schema=MEDIA_SCHEMA)


def _stub_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic fake embedding derived from payload bytes."""
    data = np.frombuffer(payload or b"\0", dtype=np.uint8).astype(np.float32)
    # fold into `dim` buckets, normalize — stable across processes
    idx = np.arange(data.size) % dim
    vec = np.zeros(dim, dtype=np.float32)
    np.add.at(vec, idx, data)
    norm = float(np.linalg.norm(vec)) or 1.0
    return vec / norm


def decode_features(
    media: DataFrame, dim: int = 64, stub: bool = True, decoder=None
) -> DataFrame:
    """media table -> feature vectors via Arrow-batched ``mapInPandas``.

    ``decoder`` is the injection seam for a REAL decoder: a picklable
    ``(payload: bytes, media_type: str, dim: int) -> array-like`` — the
    Spark plumbing (schema, batching, partitioning) is identical for
    stub and real decoders, so plugging PIL/torchaudio/pyav in changes
    nothing upstream.  Without a decoder, ``stub=True`` produces the
    deterministic content-derived fake; ``stub=False`` raises at this
    exact seam (no media libraries in this environment).
    """
    if decoder is None and not stub:
        raise NotImplementedError(
            "real media decoding requires image/audio libraries not present "
            "in this environment; pass decoder=... to plug one in at this seam"
        )
    decode = decoder or (lambda payload, _mtype, d: _stub_features(payload, d))

    def batches(it):
        for pdf in it:
            feats = [
                np.asarray(decode(p, t, dim), dtype=np.float32).tolist()
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "features": feats,
                    "n_bytes": pdf["payload"].str.len().fillna(0).astype("int32"),
                }
            )

    return media.select(
        "media_ref", "doc_id", "media_type", "payload"
    ).mapInPandas(batches, schema=FEATURES_SCHEMA)


def resize_media(
    media: DataFrame,
    max_width: int = 256,
    max_height: int = 256,
    stub: bool = True,
    resizer=None,
) -> DataFrame:
    """Resize image/video rows to fit ``max_width`` x ``max_height``,
    preserving aspect ratio and never upscaling.

    The dimension math (scale factor, target width/height) is pure
    column arithmetic — JVM-side, whole-stage codegen, valid for real
    and stub payloads alike.  Only the payload transform needs bytes:
    ``resizer`` is the injection seam, a picklable
    ``(payload: bytes, new_w: int, new_h: int) -> bytes`` applied in
    Arrow-batched ``mapInPandas``; without one, ``stub=True`` passes
    the payload through unchanged (dims metadata still updated) and
    ``stub=False`` raises at the seam (no image codecs in this
    environment).  Audio rows pass through untouched."""
    if resizer is None and not stub:
        raise NotImplementedError(
            "real media resize requires image libraries not present in this "
            "environment; pass resizer=... to plug one in at this seam"
        )
    w = F.col("meta.width").cast("double")
    h = F.col("meta.height").cast("double")
    visual = F.col("media_type").isin("image", "video")
    scale = F.when(
        visual,
        F.least(F.lit(1.0), F.lit(float(max_width)) / w, F.lit(float(max_height)) / h),
    ).otherwise(F.lit(1.0))
    new_w = F.greatest(F.lit(1), F.round(w * scale).cast("int"))
    new_h = F.greatest(F.lit(1), F.round(h * scale).cast("int"))
    out = media.select(
        "media_ref",
        "doc_id",
        "media_type",
        "payload",
        F.struct(
            new_w.alias("width"),
            new_h.alias("height"),
            F.col("meta.duration_ms").alias("duration_ms"),
            F.col("meta.codec").alias("codec"),
        ).alias("meta"),
        F.round(scale, 6).alias("resize_scale"),
    )
    if resizer is None:
        return out

    schema = T.StructType(
        [*MEDIA_SCHEMA.fields, T.StructField("resize_scale", T.DoubleType())]
    )

    def batches(it):
        for pdf in it:
            payloads = [
                resizer(p, int(m["width"]), int(m["height"])) if t in ("image", "video") else p
                for p, m, t in zip(pdf["payload"], pdf["meta"], pdf["media_type"])
            ]
            pdf = pdf.assign(payload=payloads)
            yield pdf

    return out.mapInPandas(batches, schema=schema)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("n_px", T.IntegerType()),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL frame sampling for video rows: decode the PVID container,
    keep the frames whose timestamp lands on the ``every_ms`` grid,
    and emit genuine per-frame pixel statistics (exact integer pixel
    sum — zero float drift across engines).

    One Arrow-batched ``mapInPandas`` over the video rows only; the
    frame loop is per retained frame, bounded by payload size.  At
    scale this is the shape a real extractor (pyav) plugs into — the
    container parse is the only part that changes."""
    video = media.where(F.col("media_type") == "video").select(
        "media_ref", "doc_id", "payload"
    )

    def batches(it):
        from turtle_spark.functions import imaging

        for pdf in it:
            refs, dids, idxs, tss, sums, npxs = [], [], [], [], [], []
            for ref, did, payload in zip(
                pdf["media_ref"], pdf["doc_id"], pdf["payload"]
            ):
                frames, fms = imaging.decode_pvid(bytes(payload))
                for idx, frame in enumerate(frames):
                    ts = idx * fms
                    if ts % every_ms != 0:
                        continue
                    refs.append(ref)
                    dids.append(did)
                    idxs.append(idx)
                    tss.append(ts)
                    sums.append(int(np.asarray(frame, dtype=np.int64).sum()))
                    npxs.append(int(frame.size))
            yield pd.DataFrame(
                {
                    "media_ref": pd.Series(refs, dtype=object),
                    "doc_id": pd.Series(dids, dtype=object),
                    "frame_index": pd.Series(idxs, dtype="int32"),
                    "ts_ms": pd.Series(tss, dtype="int32"),
                    "px_sum": pd.Series(sums, dtype="int64"),
                    "n_px": pd.Series(npxs, dtype="int32"),
                }
            )

    return video.mapInPandas(batches, schema=FRAME_SCHEMA)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_phash(media: DataFrame) -> DataFrame:
    """Image rows -> 64-bit sampled-grid perceptual hash
    (functions/imaging.py::grid_phash), Arrow-batched.

    The hash is exactly invariant under integer-factor nearest
    rescales and lossless cross-codec re-encodes, and Hamming-close
    under small clipped brightness shifts — so re-crawled variants of
    one image land within a tiny Hamming radius while distinct images
    stay tens of bits apart.  Emitted as a signed long (two's
    complement), the JVM-side key every downstream band join uses."""
    from turtle_spark.functions.imaging import decode_image, grid_phash

    def batches(it):
        for pdf in it:
            hashes = []
            for p in pdf["payload"]:
                h = grid_phash(decode_image(bytes(p)))
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "doc_id": pdf["doc_id"],
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    from turtle_spark.operators import skew

    images = skew.spread(
        media.where(F.col("media_type") == "image").select(
            "media_ref", "doc_id", "payload"
        ),
        "media_ref",
    )
    return images.mapInPandas(batches, schema=PHASH_SCHEMA)


def image_variants(
    media: DataFrame, brightness: int = 16, suffix: str = "#v"
) -> DataFrame:
    """Deterministic near-duplicate image variants: clip-add
    ``brightness``, 2x nearest upscale, re-encode in the FLIPPED codec
    (ppm<->bmp) — the rescale/re-encode perturbations a crawl actually
    produces, exercising both codec paths end-to-end.  Output rows keep
    the media schema with ``media_ref`` suffixed; non-image rows are
    dropped."""
    from turtle_spark.functions.imaging import (
        decode_image,
        encode_bmp,
        encode_ppm,
        perturb_image,
        sniff_format,
    )

    images = media.where(F.col("media_type") == "image")

    def batches(it):
        for pdf in it:
            payloads, widths, heights = [], [], []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                img = perturb_image(decode_image(bytes(p)), brightness)
                enc = encode_bmp if sniff_format(bytes(p)) == "ppm" else encode_ppm
                payloads.append(enc(img))
                h, w, _ = img.shape
                widths.append(w)
                heights.append(h)
            meta = [
                {
                    "width": w,
                    "height": h,
                    "duration_ms": m["duration_ms"],
                    "codec": "bmp" if m["codec"] == "ppm" else "ppm",
                }
                for w, h, m in zip(widths, heights, pdf["meta"])
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"] + suffix,
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": payloads,
                    "meta": meta,
                }
            )

    return images.mapInPandas(batches, schema=MEDIA_SCHEMA)


def image_near_duplicates(
    media: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    bucket_cap: int = 1024,
) -> DataFrame:
    """Perceptual-hash image dedup: decode -> 64-bit grid phash ->
    Hamming band-blocked pair expansion (the shared
    dedup.hamming_band_pairs used by the SimHash text tier).  At
    10^12 documents the pair stage moves only (ref, 8-byte sketch)
    rows — payload bytes never enter a shuffle."""
    from turtle_spark.operators.dedup import hamming_band_pairs

    return hamming_band_pairs(
        image_phash(media),
        max_hamming=max_hamming,
        id_col="media_ref",
        hash_col="phash",
        n_bands=n_bands,
        bucket_cap=bucket_cap,
    )


def flac_transcode_stats(media: DataFrame) -> DataFrame:
    """Lossless WAV -> FLAC transcode through the real codec seam.

    For every audio row: decode the RIFF/WAVE payload, encode the
    samples as FLAC (``functions/flac.py``), decode the FLAC bytes
    back, and report genuine signal statistics computed from the
    FLAC-decoded samples plus the per-row losslessness verdict (exact
    sample equality, independently re-checked against the stream's own
    STREAMINFO MD5 inside the decoder).  One ``mapInPandas`` over the
    payload bytes — at corpus scale the transcode parallelizes with
    the rows, the way an archival re-encode job would.

    Output: (media_ref, n_wav_bytes, n_flac_bytes, lossless,
    duration_s, rms, peak, zcr) — the four stats are the same
    definitions as ``decode_features``'s audio path, so the oracle can
    pin them from the waveform spec alone: if the FLAC round trip
    dropped or altered one sample, the stats (and ``lossless``) break.
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_ref", T.StringType()),
            T.StructField("n_wav_bytes", T.IntegerType()),
            T.StructField("n_flac_bytes", T.IntegerType()),
            T.StructField("lossless", T.BooleanType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("peak", T.DoubleType()),
            T.StructField("zcr", T.DoubleType()),
        ]
    )

    def batches(it):
        from turtle_spark.functions.audio import audio_features, decode_wav
        from turtle_spark.functions.flac import decode_flac, encode_flac

        for pdf in it:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                wav = bytes(payload)
                rate, samples = decode_wav(wav)
                flac = encode_flac(samples, rate)
                rate2, decoded = decode_flac(flac)
                feats = audio_features(decoded, rate2, 16)
                rows.append(
                    {
                        "media_ref": ref,
                        "n_wav_bytes": len(wav),
                        "n_flac_bytes": len(flac),
                        "lossless": bool(
                            rate2 == rate and np.array_equal(decoded, samples)
                        ),
                        "duration_s": float(feats[0]),
                        "rms": float(feats[1]),
                        "peak": float(feats[2]),
                        "zcr": float(feats[3]),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "n_wav_bytes", "n_flac_bytes", "lossless",
                    "duration_s", "rms", "peak", "zcr",
                ],
            )

    audio_rows = media.where(F.col("media_type") == "audio").select(
        "media_ref", "payload"
    )
    return audio_rows.mapInPandas(batches, schema=schema)

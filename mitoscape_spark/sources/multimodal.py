"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed batch-wise via mapInPandas.

The Spark-side plumbing is real: explicit schema (binary + metadata
struct), Arrow-batched UDF signatures, deterministic partition-friendly
feature extraction. Decoding is real too for the stdlib-expressible
formats — WAV (``wave`` module), binary PPM (P6), and uncompressed
24-bit BMP — via ``stdlib_codec``, the default codec of
``decode_media``. Formats that genuinely need external libraries
(JPEG/PNG/MP3/video codecs) raise a clear ValueError; inject
``codec=`` (e.g. PIL/librosa-backed) to handle them.

Scale notes: payloads stay columnar (parquet BYTE_ARRAY); metadata
filters (modality/size) push down without touching bytes; feature
extraction streams Arrow batches so executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — at 100 TB, tune that
down for large payloads rather than letting whole-row-group pandas
frames materialize.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16  # byte-histogram buckets


def synthetic_media(
    spark: SparkSession, docs: DataFrame, modality: str = "image"
) -> DataFrame:
    """Deterministic fake media derived from the documents table: the
    payload is the md5-seeded byte expansion of the text — stable
    across runs, so downstream feature tests are golden."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(modality).alias("modality"),
        # repeat the md5 hex digest to a pseudo-payload; to_binary makes
        # real bytes (deterministic, no RNG)
        F.to_binary(
            F.repeat(F.md5(F.col("text")), 8), F.lit("hex")
        ).alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(1).alias("n_frames"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )


def synthetic_decodable_media(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format media derived from doc ids: WAV for
    doc_id % 3 == 0, PPM for 1, BMP for 2 — every payload decodes with
    ``stdlib_codec``. Generation runs inside mapInPandas (distributed,
    no driver materialization); content is a pure function of doc_id so
    downstream features are golden across runs."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "modality": [], "payload": [],
                "width": [], "height": [], "sample_rate": [],
                "n_frames": [], "format": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                kind = doc_id % 3
                if kind == 0:
                    samples = (
                        (np.arange(256, dtype=np.int64) * (doc_id * 2 + 1))
                        % 65536
                    ) - 32768
                    payload = encode_wav(samples.astype("<i2"), 8000)
                    vals = ("audio", payload, None, None, 8000, None, "wav")
                else:
                    px = (
                        (np.arange(8 * 8 * 3, dtype=np.int64) * (doc_id + 7))
                        % 256
                    ).astype(np.uint8).tobytes()
                    if kind == 1:
                        vals = ("image", encode_ppm(8, 8, px), 8, 8, None, 1, "ppm")
                    else:
                        vals = ("image", encode_bmp(8, 8, px), 8, 8, None, 1, "bmp")
                modality, payload, w, h, sr, nf, fmt = vals
                out["media_id"].append(doc_id)
                out["modality"].append(modality)
                out["payload"].append(payload)
                out["width"].append(w)
                out["height"].append(h)
                out["sample_rate"].append(sr)
                out["n_frames"].append(nf)
                out["format"].append(fmt)
            yield pd.DataFrame(out)

    from mitoscape_spark.plans import ensure_min_parallelism

    # the corpora are single-row-group parquet → the scan is ONE task;
    # spreading the doc_id keys (KBs) unlocks every core for the
    # payload synthesis below (PERF.md §23)
    flat = ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        gen,
        "media_id long, modality string, payload binary, width int, "
        "height int, sample_rate int, n_frames int, format string",
    )
    return flat.select(
        "media_id",
        "modality",
        "payload",
        F.struct("width", "height", "sample_rate", "n_frames", "format").alias(
            "meta"
        ),
    )


# ------------------------------------------------------ stdlib codecs
#
# Real decoders for the formats the standard library can express:
# WAV (RIFF PCM via `wave`), binary PPM (P6), uncompressed 24-bit BMP.
# Each returns a uint8 ndarray (audio samples rescaled to 0..255, image
# pixels as stored) so every modality feeds the same histogram/feature
# pipeline. Encoders live alongside for fixtures and the synthetic
# decodable corpus — both sides stdlib-only.


def encode_wav(samples: "np.ndarray", sample_rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV bytes from an int16 sample array."""
    import io
    import wave

    arr = np.asarray(samples, dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> np.ndarray:
    """uint8-rescaled mono samples (frames averaged across channels)."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        n, width, channels = w.getnframes(), w.getsampwidth(), w.getnchannels()
        raw = w.readframes(n)
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int32)
        if channels > 1:
            samples = samples.reshape(-1, channels).mean(axis=1).astype(np.int32)
        return ((samples + 32768) >> 8).astype(np.uint8)
    if width == 1:  # 8-bit WAV is already unsigned
        samples = np.frombuffer(raw, dtype=np.uint8)
        if channels > 1:
            samples = samples.reshape(-1, channels).mean(axis=1)
        return samples.astype(np.uint8)
    raise ValueError(f"unsupported WAV sample width {width}")


def decode_wav_pcm(data: bytes) -> np.ndarray:
    """FULL-precision mono samples (float64, channel-averaged) — the
    fingerprinting/DSP decode. ``decode_wav`` above quantizes to uint8
    for the shared byte-histogram pipeline; spectral fingerprints need
    the unquantized PCM (the >>8 rescale injects a noise floor that
    flips differential-energy bits)."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        n, width, channels = w.getnframes(), w.getsampwidth(), w.getnchannels()
        raw = w.readframes(n)
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    elif width == 1:
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if channels > 1:
        samples = samples.reshape(-1, channels).mean(axis=1)
    return samples


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6, maxval 255) from packed RGB bytes."""
    assert len(rgb) == width * height * 3
    return f"P6\n{width} {height}\n255\n".encode() + rgb


def decode_ppm(data: bytes) -> np.ndarray:
    """(height, width, 3) uint8 pixels from a binary P6 PPM."""
    if not data.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6)")
    # header = magic, width, height, maxval as whitespace/comment-
    # separated ASCII tokens, then a single whitespace before pixels
    tokens, i = [], 2
    while len(tokens) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":  # comment to end of line
            i = data.index(b"\n", i) + 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        tokens.append(int(data[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    px = np.frombuffer(data, dtype=np.uint8, count=width * height * 3, offset=i)
    return px.reshape(height, width, 3)


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up rows,
    4-byte row padding, BGR byte order) from packed RGB bytes."""
    import struct

    assert len(rgb) == width * height * 3
    row_stride = (width * 3 + 3) & ~3
    img = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = rgb[(y * width + x) * 3 : (y * width + x) * 3 + 3]
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (row_stride - len(row))
        img += row
    header_size = 14 + 40
    file_size = header_size + len(img)
    return (
        struct.pack("<2sIHHI", b"BM", file_size, 0, 0, header_size)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img), 2835, 2835, 0, 0
        )
        + bytes(img)
    )


def decode_bmp(data: bytes) -> np.ndarray:
    """(height, width, 3) uint8 RGB pixels from an uncompressed 24-bit
    BMP (top-down or bottom-up)."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP file")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    hsize, width, height = struct.unpack_from("<Iii", data, 14)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if hsize < 40 or bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BMP is supported")
    bottom_up = height > 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    rows = []
    for r in range(height):
        y = (height - 1 - r) if bottom_up else r
        off = pixel_off + y * row_stride
        row = np.frombuffer(data, dtype=np.uint8, count=width * 3, offset=off)
        rows.append(row.reshape(width, 3)[:, ::-1])  # BGR -> RGB
    return np.stack(rows)


def stdlib_codec(payload: bytes, modality: str) -> np.ndarray:
    """Format-sniffing decoder over the stdlib-expressible formats.

    Raises ValueError for formats that genuinely need external codec
    libraries (JPEG/PNG/MP3/video containers) — inject a richer codec
    into ``decode_media`` for those.
    """
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload).reshape(-1)
    if payload[:2] == b"BM":
        return decode_bmp(payload).reshape(-1)
    raise ValueError(
        f"no stdlib codec for this {modality} payload "
        f"(magic={payload[:4]!r}); supported: WAV/PPM/BMP. Inject "
        "codec= for library-backed formats."
    )


def decode_media(
    media: DataFrame,
    codec: Callable[[bytes, str], np.ndarray] | None = None,
) -> DataFrame:
    """Decode payloads → features. Default codec handles WAV/PPM/BMP
    with stdlib-only decoders; inject ``codec`` (e.g. PIL/librosa-
    backed) for formats beyond them."""
    return _feature_map(media, codec if codec is not None else stdlib_codec)


def extract_features(media: DataFrame) -> DataFrame:
    """(media_id, modality, features array<double>) — 16-bucket byte
    histogram, L1-normalized. Real Arrow-batched mapInPandas with the
    same shape a decoder-backed extractor would use."""
    return _feature_map(media, None)


def _feature_map(
    media: DataFrame, codec: Callable[[bytes, str], np.ndarray] | None
) -> DataFrame:
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("modality", T.StringType(), False),
            T.StructField(
                "features", T.ArrayType(T.DoubleType()), True
            ),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, modality in zip(pdf["payload"], pdf["modality"]):
                if payload is None:
                    feats.append(None)
                    continue
                arr = (
                    codec(bytes(payload), modality)
                    if codec is not None
                    else np.frombuffer(bytes(payload), dtype=np.uint8)
                )
                hist, _ = np.histogram(
                    arr, bins=FEATURE_DIM, range=(0, 256)
                )
                total = hist.sum() or 1
                feats.append((hist / total).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "features": feats,
                }
            )

    return media.mapInPandas(run, out_schema)


def decode_invariants(
    media: DataFrame,
    codec: Callable[[bytes, str], np.ndarray] | None = None,
) -> DataFrame:
    """(media_id, modality, fmt, n_decoded, byte_sum, n_lt16) — the
    oracle-checkable face of the decode pipeline. Runs the SAME codec
    path as ``decode_media`` but emits integer invariants of the
    decoded array: element count, byte checksum, and the unnormalized
    first histogram bucket (bytes < 256/FEATURE_DIM). Over
    ``synthetic_decodable_media`` every decoded byte is a closed-form
    function of doc_id, so DuckDB re-derives all three from scratch
    (round-5 verdict item 7); rFFT/feature floats stay rows-only."""
    use_codec = codec if codec is not None else stdlib_codec
    bucket_hi = 256 // FEATURE_DIM

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_dec, b_sum, n_lt = [], [], []
            for payload, modality in zip(pdf["payload"], pdf["modality"]):
                if payload is None:
                    n_dec.append(None)
                    b_sum.append(None)
                    n_lt.append(None)
                    continue
                try:
                    arr = use_codec(bytes(payload), modality)
                except ValueError:
                    n_dec.append(None)
                    b_sum.append(None)
                    n_lt.append(None)
                    continue
                arr = np.asarray(arr, dtype=np.int64)
                n_dec.append(len(arr))
                b_sum.append(int(arr.sum()))
                n_lt.append(int((arr < bucket_hi).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "fmt": [
                        m["format"] if m is not None else None
                        for m in pdf["meta"]
                    ],
                    "n_decoded": pd.array(n_dec, dtype="Int64"),
                    "byte_sum": pd.array(b_sum, dtype="Int64"),
                    "n_lt16": pd.array(n_lt, dtype="Int64"),
                }
            )

    return media.mapInPandas(
        run,
        "media_id long, modality string, fmt string, n_decoded long, "
        "byte_sum long, n_lt16 long",
    )


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Real resize for the stdlib-decodable image formats: decode
    (PPM/BMP) → nearest-neighbor resample in numpy → re-encode as PPM,
    with metadata updated to match. Non-image rows and non-decodable
    payloads pass through unchanged (resizing them is someone else's
    codec). Arrow-batched mapInPandas, one pass, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for modality, payload, meta in zip(
                pdf["modality"], pdf["payload"], pdf["meta"]
            ):
                meta = dict(meta) if meta is not None else {}
                if modality == "image" and payload is not None:
                    raw = bytes(payload)
                    try:
                        if raw[:2] == b"P6":
                            px = decode_ppm(raw)
                        elif raw[:2] == b"BM":
                            px = decode_bmp(raw)
                        else:
                            raise ValueError("not stdlib-decodable")
                    except ValueError:
                        payloads.append(raw)
                        metas.append(meta)
                        continue
                    h0, w0 = px.shape[:2]
                    ys = (np.arange(height) * h0 // height).clip(0, h0 - 1)
                    xs = (np.arange(width) * w0 // width).clip(0, w0 - 1)
                    resized = px[ys][:, xs]
                    payloads.append(
                        encode_ppm(width, height, resized.tobytes())
                    )
                    meta.update(width=width, height=height, format="ppm")
                    metas.append(meta)
                else:
                    payloads.append(
                        bytes(payload) if payload is not None else None
                    )
                    metas.append(meta)
            out = pdf.copy()
            out["payload"] = payloads
            out["meta"] = metas
            yield out

    return media.mapInPandas(run, media.schema)


def frame_sample(
    media: DataFrame, every_n: int = 2, max_frames: int | None = None
) -> DataFrame:
    """(media_id, frame_idx, frame) — sample every ``every_n``-th frame.

    Frames are fixed-width byte windows of the payload per
    ``meta.n_frames`` (a codec-backed build decodes real frames; the
    windowing, fan-out schema and Arrow batching are identical either
    way). Fan-out is a generator, not a shuffle — frame rows land in
    the same partition as their source row.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                if payload is None:
                    continue
                n_frames = max(int(meta["n_frames"] or 1), 1)
                raw = bytes(payload)
                width = max(len(raw) // n_frames, 1)
                taken = 0
                for k in range(0, n_frames, every_n):
                    if max_frames is not None and taken >= max_frames:
                        break
                    ids.append(media_id)
                    idxs.append(k)
                    frames.append(raw[k * width : (k + 1) * width])
                    taken += 1
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(run, out_schema)


def audio_spectral_features(
    media: DataFrame, n_bands: int = 8, frame_len: int = 256
) -> DataFrame:
    """(media_id, n_frames, band_energy array<double>): log-band power
    spectrum of WAV payloads — the audio-side feature extractor
    (mel-filterbank shape without the mel warp, numpy only).

    Per payload: decode (stdlib ``wave``), split into ``frame_len``
    windows, rFFT per window (numpy, vectorized across frames), average
    power into ``n_bands`` linear bands, log10. Arrow-batched
    mapInPandas — executor memory is bounded by the Arrow batch size,
    and each payload's work is independent (embarrassingly parallel
    across the cluster). Non-audio / undecodable payloads yield null
    features rather than failing the batch.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField(
                "band_energy", T.ArrayType(T.DoubleType()), True
            ),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nfs, feats = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                ids.append(mid)
                try:
                    samples = decode_wav(bytes(payload)).astype(np.float64)
                except Exception:
                    nfs.append(None)
                    feats.append(None)
                    continue
                # decode_wav rescales to uint8 (DC offset 128): center
                # so band 0 measures low-frequency content, not the bias
                samples = samples - samples.mean()
                n = (len(samples) // frame_len) * frame_len
                if n == 0:
                    nfs.append(0)
                    feats.append([0.0] * n_bands)
                    continue
                frames = samples[:n].reshape(-1, frame_len)
                spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                # average power per linear band, all frames at once
                bands = np.array_split(spec, n_bands, axis=1)
                energy = [
                    float(np.log10(b.mean() + 1e-12)) for b in bands
                ]
                nfs.append(frames.shape[0])
                feats.append([round(e, 6) for e in energy])
            yield pd.DataFrame(
                {"media_id": ids, "n_frames": nfs, "band_energy": feats}
            )

    return media.mapInPandas(run, out_schema)


def synthetic_video_corpus(spark: SparkSession, docs: DataFrame,
                           n_frames: int = 8) -> DataFrame:
    """Deterministic multi-frame "videos": payload = ``n_frames``
    concatenated equal-size binary-PPM frames (each independently
    decodable), meta.n_frames set accordingly — so ``frame_sample``'s
    fixed-width byte windows align exactly with frame boundaries.

    Content is a pure function of doc_id; every doc_id % 4 == 1 video is
    an EDIT of its predecessor (identical frames except the first, which
    is re-shot from a different seed — the re-upload-with-new-intro
    case) — the near-duplicate planted pairs downstream dedup must
    find. Generation is distributed (mapInPandas), nothing driver-side.
    """

    def _frame(seed: int, f: int) -> bytes:
        px = (
            (np.arange(8 * 8 * 3, dtype=np.int64) * (seed * 31 + f * 7 + 11))
            % 251
        ).astype(np.uint8)
        return encode_ppm(8, 8, px.tobytes())

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads, metas = [], [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                # near-dup partner: share the EVEN seed's frames,
                # replace only frame 0
                is_edit = doc_id % 4 == 1
                seed = doc_id - 1 if is_edit else doc_id
                frames = [
                    _frame(seed + 100_003, f) if f == 0 and is_edit
                    else _frame(seed, f)
                    for f in range(n_frames)
                ]
                ids.append(doc_id)
                payloads.append(b"".join(frames))
                metas.append(n_frames)
            yield pd.DataFrame(
                {"media_id": ids, "payload": payloads, "n_frames": metas}
            )

    from mitoscape_spark.plans import ensure_min_parallelism

    flat = ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        gen, "media_id long, payload binary, n_frames int"
    )
    return flat.select(
        "media_id",
        F.lit("video").alias("modality"),
        "payload",
        F.struct(
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.col("n_frames"),
            F.lit("ppm-frames").alias("format"),
        ).alias("meta"),
    )


def synthetic_audio_corpus(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Deterministic WAV corpus with planted near-duplicates: every
    doc_id % 4 == 1 clip is its predecessor's tone mix re-encoded at
    70% amplitude with mild deterministic noise — the re-mastered
    re-upload audio dedup must find. Distributed generation, content a
    pure function of doc_id."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # tone synthesis is vectorized across clips in bounded chunks
        # (512 × 4096 doubles ≈ 16 MB live) — the per-clip formulation
        # spent ~0.3 ms of numpy call overhead per clip. Expression
        # order inside the matrix ops mirrors the scalar original
        # EXACTLY (((2π·f1)·t)/n, (amp·x)/2, x + (randn·amp)·0.003) so
        # the emitted WAV bytes — and every downstream fingerprint bit
        # — are unchanged (pinned by test_audio_fingerprint.py).
        n = 4096
        t = np.arange(n)
        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy().astype(np.int64)
            ids: list[int] = []
            payloads: list[bytes] = []
            for lo in range(0, len(doc_ids), 512):
                chunk = doc_ids[lo : lo + 512]
                is_dup = chunk % 4 == 1
                seeds = np.where(is_dup, chunk - 1, chunk)
                amps = np.where(is_dup, 5600.0, 8000.0)
                f1 = 20 + (seeds * 13) % 180
                f2 = 220 + (seeds * 29) % 600
                x = np.sin(2 * np.pi * f1[:, None] * t[None, :] / n) + np.sin(
                    2 * np.pi * f2[:, None] * t[None, :] / n
                )
                x = amps[:, None] * x / 2
                for j, doc_id in enumerate(chunk):
                    row = x[j]
                    if is_dup[j]:
                        # per-doc seeded noise stays scalar: the seed IS
                        # the doc id, so the stream can't batch
                        rng = np.random.RandomState(int(doc_id))
                        row = row + rng.randn(n) * amps[j] * 0.003
                    payloads.append(
                        encode_wav(
                            np.clip(row, -32768, 32767).astype("<i2"), 8000
                        )
                    )
                    ids.append(int(doc_id))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    from mitoscape_spark.plans import ensure_min_parallelism

    flat = ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        gen, "media_id long, payload binary"
    )
    return flat.select(
        "media_id",
        F.lit("audio").alias("modality"),
        "payload",
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(8000).alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("wav").alias("format"),
        ).alias("meta"),
    )

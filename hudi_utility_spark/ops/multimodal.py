"""Multimodal column plumbing (north star): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` stages.

Image/video decode kernels need codec libraries absent from this
container, so those kernels are STUBBED — ``decode_stub`` raises
``NotImplementedError`` unless ``fake=True``, in which case it produces a
deterministic fake feature vector. Everything around the kernel — schema,
binary handling, Arrow batch shape, partition sizing — is real and
tested; swapping in PIL/ffmpeg later changes only the function body.

AUDIO is NOT stubbed: WAV/RIFF needs no codec. ``synth_wav`` encodes
real PCM16 WAV bytes with the stdlib ``wave`` module, and
``decode_wav`` / ``decode_wav_meta`` parse them back with an
independent hand-written RIFF chunk walker (not ``wave``), so the
encode→decode round trip crosses two implementations. ``decode_stub``
dispatches to the real parser whenever the payload is RIFF, including
with ``fake=False``.

Scale notes: binary payloads dominate shuffle cost, so all transforms are
map-only (mapInPandas preserves partitioning); metadata is carried as
plain columns so filters on it prune before any decode runs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),       # opaque bytes
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    list(MEDIA_SCHEMA.fields)
    + [T.StructField("feature", T.ArrayType(T.FloatType()), True)]
)

# payload-free variant: what the extraction stage emits when the bytes
# are no longer needed downstream — at scale, re-emitting payloads from
# Python doubles the Arrow transfer and the next stage's shuffle input
FEATURE_SCHEMA_SLIM = T.StructType(
    [f for f in FEATURE_SCHEMA.fields if f.name != "payload"]
)


def attach_binary(
    df: DataFrame, src_col: str, id_col: str, media_type: str = "image"
) -> DataFrame:
    """Wrap an existing column as an opaque binary payload with metadata.

    Stand-in for reading real media files (binaryFile datasource in
    production: ``spark.read.format("binaryFile")``); keeps metadata as
    first-class columns so Catalyst can filter before any Python runs.
    """
    payload = F.col(src_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(media_type).alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.sha2(payload, 256).alias("sha256"),
    )


def decode_stub(payload: bytes, media_type: str, fake: bool, dim: int = 8) -> list[float]:
    """The kernel boundary. WAV/RIFF payloads take the REAL decode path
    (header parse + PCM stats via ``decode_wav``) regardless of *fake*;
    codec-requiring formats (jpeg/mp4/...) raise unless ``fake=True``
    because PIL/torchaudio/ffmpeg are absent from this container."""
    if (
        payload is not None
        and bytes(payload[:4]) == b"RIFF"
        and bytes(payload[8:12]) == b"WAVE"
    ):
        # full magic: RIFF alone also matches WebP/AVI containers
        # ('RIFF....WEBP'), which must fall through to the fake/raise
        # path instead of the WAV chunk walker
        meta = decode_wav(bytes(payload))
        feats = [
            meta["sample_rate"] / 48000.0,
            meta["channels"] / 2.0,
            meta["bits_per_sample"] / 32.0,
            min(meta["n_samples"] / 1e6, 1.0),
            min(meta["duration_ms"] / 60000.0, 1.0),
            (meta["pcm_sum"] % 65536) / 65536.0,
        ]
        feats = [round(v, 6) for v in feats]
        return (feats + [0.0] * dim)[:dim]
    if not fake:
        raise NotImplementedError(
            "non-WAV media decode requires codec libraries not present in "
            "this environment; pass fake=True for the deterministic test "
            "kernel (WAV payloads decode for real)"
        )
    # deterministic fake: digest bytes → dim floats in [0, 1). Rounded to
    # 6 decimals BEFORE the float32 cast in FEATURE_SCHEMA: a ≤6-sig-digit
    # value survives the float32 round trip exactly under %.6g
    # normalization, so the oracle (which computes the same slices in
    # double precision) hash-matches bit-for-bit.
    digest = hashlib.sha256(payload or b"").digest()
    return [
        round(int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32, 6)
        for i in range(dim)
    ]


def extract_features(
    df: DataFrame,
    fake: bool = True,
    dim: int = 8,
    batch_hint: int = 1024,
    keep_payload: bool = True,
) -> DataFrame:
    """Arrow-batched feature extraction over media rows via mapInPandas.

    The iterator-of-batches shape is exactly what a GPU decode kernel
    wants (amortized model load per partition, bounded batch memory);
    `batch_hint` documents the intended
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` sizing at scale.

    Pass ``keep_payload=False`` when downstream stages only need the
    features: the payload bytes then cross the Arrow boundary once
    (JVM→Python) instead of round-tripping, which at media scale halves
    the stage's serialization volume and keeps raw bytes out of any
    later shuffle.
    """
    schema = FEATURE_SCHEMA if keep_payload else FEATURE_SCHEMA_SLIM

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_stub(p, t, fake=fake, dim=dim)
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pdf if keep_payload else pdf.drop(columns=["payload"])
            out = out.copy()
            out["feature"] = feats
            yield out

    return df.mapInPandas(run, schema=schema)


def export_binary_files(
    df: DataFrame,
    out_dir: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    ext: str = "bin",
) -> int:
    """Export media payloads as one object file per row, written from the
    EXECUTORS (mapInPandas side effect) — the corpus→object-store export
    path, the write-side twin of the ``binaryFile`` datasource. No row
    ever crosses the driver; parallelism = input partitions; re-runs
    overwrite byte-identically (filenames are ``<id>.<ext>``). Returns
    the number of files written. On a cluster, ``out_dir`` is any
    Hadoop-visible URI mounted on the executors (s3a/hdfs via the local
    mount or a FileSystem call in the kernel); here it is a local path.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    count_schema = T.StructType([T.StructField("n", T.LongType(), False)])

    def write_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        for pdf in batches:
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                tmp = os.path.join(out_dir, f".{mid}.{ext}.tmp")
                with open(tmp, "wb") as fh:
                    fh.write(bytes(payload) if payload is not None else b"")
                os.replace(tmp, os.path.join(out_dir, f"{mid}.{ext}"))
                n += 1
        yield pd.DataFrame({"n": [n]})

    written = (
        df.select(id_col, payload_col)
        .mapInPandas(write_batches, schema=count_schema)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    return int(written or 0)


def read_binary_files(
    spark, path: str, glob: str | None = None, recursive: bool = False
) -> DataFrame:
    """Scan a directory of opaque media objects with Spark's built-in
    ``binaryFile`` datasource → (path, modificationTime, length, content).
    ``pathGlobFilter`` prunes at FILE LISTING time (no bytes read for
    filtered-out objects) and ``length`` is listing metadata too — size
    filters run before any content IO. The production entry point the
    `attach_binary` stand-in documents."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def resize_stub(df: DataFrame, target: tuple[int, int] = (224, 224)) -> DataFrame:
    """Image resize plumbing: passes payloads through the same batch shape
    with the declared output geometry in metadata. Kernel stubbed (no
    image libs); geometry columns are real."""
    return df.withColumn("target_w", F.lit(target[0])).withColumn(
        "target_h", F.lit(target[1])
    )


WAV_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("channels", T.LongType(), True),
        T.StructField("bits_per_sample", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("pcm_sum", T.LongType(), True),
        T.StructField("pcm_peak", T.LongType(), True),
        T.StructField("pcm_clipped", T.LongType(), True),
        T.StructField("pcm_sumsq", T.LongType(), True),
    ]
)


def _ramp_pcm(media_id: int, n: int) -> bytes:
    """Deterministic int16-LE PCM: sample_j = ((id*31 + 7j) mod 65536)
    - 32768. Portable enough that a SQL oracle can recompute any
    aggregate of it from ``range()`` — the content-level check that the
    bytes really were encoded and decoded, not just the header."""
    import numpy as np

    j = np.arange(n, dtype=np.int64)
    samples = ((media_id * 31 + 7 * j) % 65536 - 32768).astype("<i2")
    return samples.tobytes()


def _sine_pcm(freq_bin: int, n: int) -> bytes:
    """Pure tone at an INTEGER number of cycles over the buffer
    (frequency = freq_bin · rate / n Hz): with integer cycles there is
    no spectral leakage, so the FFT magnitude argmax over bins 1..n/2
    is exactly ``freq_bin`` — an analytically known ground truth a SQL
    oracle can state without computing a transform."""
    import numpy as np

    i = np.arange(n, dtype=np.float64)
    x = np.sin(2.0 * np.pi * freq_bin * i / n) * 12000.0
    return np.floor(x + 0.5).astype("<i2").tobytes()


def synth_wav(
    df: DataFrame,
    id_col: str = "media_id",
    rate_col: str = "sample_rate",
    channels_col: str = "channels",
    n_samples_col: str = "n_samples",
    waveform: str = "ramp",
    freq_bin_col: str = "freq_bin",
) -> DataFrame:
    """Encode REAL WAV payloads (PCM16, stdlib ``wave`` module — an
    actual RIFF encoder, not a byte-stub) from per-row parameters, as an
    Arrow-batched map-only stage. Emits the standard MEDIA_SCHEMA row so
    everything downstream (metadata pruning, feature extraction, export)
    treats audio exactly like any other media payload.

    ``waveform="ramp"`` (default) fills PCM with the SQL-replayable
    integer ramp; ``waveform="sine"`` synthesizes a pure tone whose
    cycle count comes from *freq_bin_col* — the spectral ground truth
    for the FFT operator."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            payloads = []
            fbs = (
                pdf[freq_bin_col]
                if waveform == "sine"
                else [0] * len(pdf)
            )
            for mid, rate, ch, n, fb in zip(
                pdf[id_col], pdf[rate_col], pdf[channels_col],
                pdf[n_samples_col], fbs,
            ):
                if waveform == "sine":
                    pcm = _sine_pcm(int(fb), int(n) * int(ch))
                else:
                    pcm = _ramp_pcm(int(mid), int(n) * int(ch))
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(int(ch))
                    w.setsampwidth(2)
                    w.setframerate(int(rate))
                    w.writeframes(pcm)
                payloads.append(buf.getvalue())
            out = pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "media_type": "audio",
                    "payload": payloads,
                    "byte_len": [len(p) for p in payloads],
                    "sha256": [
                        hashlib.sha256(p).hexdigest() for p in payloads
                    ],
                }
            )
            yield out

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def _walk_wav(payload: bytes) -> tuple[tuple, bytes]:
    """Generic RIFF chunk walk shared by the decode kernels: returns
    (fmt tuple, data bytes). Skips LIST/fact/any unknown chunk,
    tolerates the odd-size pad byte; PCM16 enforced."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, 8 + struct.unpack_from("<I", payload, 4)[0]
    fmt = None
    data = None
    while pos + 8 <= min(end, len(payload)):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, _ch, _rate, _br, _ba, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only PCM16 supported (fmt={audio_format}, bits={bits})")
    return fmt, data


def decode_wav(payload: bytes) -> dict:
    """Hand-written RIFF/WAVE parser — deliberately independent of the
    stdlib ``wave`` module that ``synth_wav`` encodes with, so the
    round trip crosses two implementations. Little-endian struct decode
    of fmt, PCM stats over the data chunk (chunk walk in `_walk_wav`).
    """
    import numpy as np

    fmt, data = _walk_wav(payload)
    _audio_format, channels, rate, _byte_rate, block_align, bits = fmt
    n_samples = len(data) // block_align
    samples = np.frombuffer(data[: n_samples * block_align], dtype="<i2")
    wide = samples.astype(np.int64)
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits_per_sample": bits,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // rate,
        "pcm_sum": int(wide.sum()),
        # QC stats: peak amplitude, clipped-sample count (|s| at the
        # int16 rail), exact integer energy for RMS downstream
        "pcm_peak": int(np.abs(wide).max()) if len(wide) else 0,
        "pcm_clipped": int((np.abs(wide) >= 32767).sum()),
        "pcm_sumsq": int((wide * wide).sum()),
    }


def decode_wav_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched WAV decode: payload bytes → typed audio metadata +
    a PCM content checksum, via ``decode_wav``. Map-only (no shuffle);
    the payload crosses the Arrow boundary once and is NOT re-emitted —
    downstream sees only the slim decoded columns, the same
    keep_payload=False discipline as ``extract_features``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_wav(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "sample_rate": [m["sample_rate"] for m in metas],
                    "channels": [m["channels"] for m in metas],
                    "bits_per_sample": [m["bits_per_sample"] for m in metas],
                    "n_samples": [m["n_samples"] for m in metas],
                    "duration_ms": [m["duration_ms"] for m in metas],
                    "pcm_sum": [m["pcm_sum"] for m in metas],
                    "pcm_peak": [m["pcm_peak"] for m in metas],
                    "pcm_clipped": [m["pcm_clipped"] for m in metas],
                    "pcm_sumsq": [m["pcm_sumsq"] for m in metas],
                }
            )

    return df.select("media_id", payload_col).mapInPandas(
        run, schema=WAV_META_SCHEMA
    )


SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("dominant_bin", T.LongType(), True),
        T.StructField("dominant_hz", T.DoubleType(), True),
    ]
)


def audio_dominant_freq(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL spectral analysis over decoded PCM: per file, a full
    ``numpy.fft.rfft`` magnitude spectrum and its argmax bin (DC
    excluded) → dominant frequency in Hz — the pitch/tone detector a
    speech/music curation pass runs (hum removal, tone-classification,
    silence-vs-signal). Vectorized FFT per Arrow batch row; map-only;
    payload crosses the boundary once. Frequency resolution is
    ``rate/n`` Hz, so ``dominant_hz = bin · rate / n`` — fixed-order
    double math an oracle can restate."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "sample_rate", "n_samples", "dominant_bin", "dominant_hz"
            )}
            for mid, p in zip(pdf["media_id"], pdf[payload_col]):
                fmt, data = _walk_wav(bytes(p))
                _af, channels, rate, _br, block_align, _bits = fmt
                n_frames = len(data) // block_align
                n = n_frames * channels
                samples = np.frombuffer(
                    data[: n * 2], dtype="<i2"
                ).astype(np.float64)
                # deinterleave: the FFT must see one sample per FRAME
                # (channel mean), not the channel-interleaved byte
                # stream — an interleaved stereo spectrum is not the
                # signal's spectrum
                if channels > 1:
                    samples = samples[: n_frames * channels].reshape(
                        -1, channels
                    ).mean(axis=1)
                mag = np.abs(np.fft.rfft(samples))
                dom = int(np.argmax(mag[1:]) + 1) if len(mag) > 1 else 0
                out["media_id"].append(int(mid))
                out["sample_rate"].append(rate)
                out["n_samples"].append(n_frames)
                out["dominant_bin"].append(dom)
                # UNROUNDED: callers round JVM-side (F.round is
                # HALF_UP like SQL ROUND; Python round() is banker's
                # and disagrees on exact ties, e.g. 1263.28125)
                out["dominant_hz"].append(dom * rate / n_frames)
            yield pd.DataFrame(out)

    return df.select("media_id", payload_col).mapInPandas(
        run, schema=SPECTRAL_SCHEMA
    )


def frame_sample_plan(df: DataFrame, every_n_seconds: int = 5) -> DataFrame:
    """Video frame-sampling *plan*: emits the frame timestamps a decoder
    would extract (metadata-only — durations are synthesized from payload
    length pending a real demuxer). Shows the explode-to-frames shape that
    fans one video row out to frame rows without shuffling."""
    dur = (F.col("byte_len") % 60 + 1).cast("int")  # fake seconds from size
    return df.select(
        "media_id",
        "media_type",
        dur.alias("duration_s"),
        F.explode(
            F.sequence(F.lit(0), dur - 1, F.lit(every_n_seconds))
        ).alias("frame_ts_s"),
    )


def _ramp_rgb(media_id: int, width: int, height: int) -> bytes:
    """Deterministic RGB raster: pixel(y, x, c) = (id*13 + y*7 + x*3 +
    c*11) mod 256. Like :func:`_ramp_pcm`, portable enough that a SQL
    oracle recomputes any aggregate of the pixel content from
    ``range()`` — the check that bytes really were encoded AND decoded,
    not just the header echoed back."""
    import numpy as np

    y, x, c = np.meshgrid(
        np.arange(height, dtype=np.int64),
        np.arange(width, dtype=np.int64),
        np.arange(3, dtype=np.int64),
        indexing="ij",
    )
    px = (media_id * 13 + y * 7 + x * 3 + c * 11) % 256
    return px.astype(np.uint8).tobytes()


def synth_ppm(
    df: DataFrame,
    id_col: str = "media_id",
    width_col: str = "width",
    height_col: str = "height",
) -> DataFrame:
    """Encode REAL binary PPM (P6) images from per-row dimensions — an
    actual image container, dependency-free by design (the P6 format IS
    its own codec: ASCII header + raw RGB raster). Every third image
    gets a ``#`` comment line in the header so the decoder's
    comment-skip path is exercised under the value-hash gate. Map-only
    Arrow stage emitting the standard MEDIA_SCHEMA row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid, w, h in zip(pdf[id_col], pdf[width_col], pdf[height_col]):
                mid, w, h = int(mid), int(w), int(h)
                comment = f"# synth {mid}\n" if mid % 3 == 0 else ""
                header = f"P6\n{comment}{w} {h}\n255\n".encode("ascii")
                payloads.append(header + _ramp_rgb(mid, w, h))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "media_type": "image",
                    "payload": payloads,
                    "byte_len": [len(p) for p in payloads],
                    "sha256": [
                        hashlib.sha256(p).hexdigest() for p in payloads
                    ],
                }
            )

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def decode_ppm(payload: bytes) -> dict:
    """REAL P6 parser (hand-written, no imaging deps): tokenizes the
    header honoring ``#`` comments and arbitrary whitespace per the
    netpbm spec, validates magic/maxval/length, then reads the raster
    with numpy. Returns integer-exact channel sums so the oracle can
    verify pixel CONTENT, not just dimensions."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header tokenizer: 3 integers (w, h, maxval) follow the magic;
    # '#' starts a comment running to end-of-line; any whitespace splits
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        if i >= len(payload):
            raise ValueError("truncated PPM header")
        ch = payload[i : i + 1]
        if ch == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif ch.isspace():
            i += 1
        elif ch.isdigit():
            j = i
            while payload[j : j + 1].isdigit():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
        else:
            raise ValueError(f"bad PPM header byte {ch!r}")
    i += 1  # exactly one whitespace byte after maxval, then the raster
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raster = np.frombuffer(payload, dtype=np.uint8, offset=i)
    if raster.size != width * height * 3:
        raise ValueError(
            f"raster size {raster.size} != {width}x{height}x3"
        )
    px = raster.reshape(height, width, 3).astype(np.int64)
    sums = px.sum(axis=(0, 1))
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "sum_r": int(sums[0]),
        "sum_g": int(sums[1]),
        "sum_b": int(sums[2]),
    }


PPM_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
    ]
)


def decode_ppm_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched map-only decode: payload in, payload-free typed
    metadata + channel sums out (100 TB posture identical to the WAV
    kernel — decode cost ∝ bytes per file, parallelism = partitions,
    downstream schema carries no bytes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf[payload_col]):
                d = decode_ppm(bytes(p))
                d["media_id"] = int(mid)
                rows.append(d)
            yield pd.DataFrame(rows)[
                [f.name for f in PPM_META_SCHEMA.fields]
            ]

    return df.mapInPandas(run, schema=PPM_META_SCHEMA)


def _ppm_raster(p):
    """The (height, width, 3) uint8 raster of one P6 payload."""
    import numpy as np

    payload = bytes(p)
    meta = decode_ppm(payload)
    w, h = meta["width"], meta["height"]
    return np.frombuffer(
        payload, dtype=np.uint8, offset=len(payload) - w * h * 3
    ).reshape(h, w, 3)


def ppm_resize_stats(
    df: DataFrame,
    target: tuple[int, int] = (8, 8),
    payload_col: str = "payload",
) -> DataFrame:
    """REAL nearest-neighbor resize over decoded PPM rasters (the
    de-stubbed successor of :func:`resize_stub` for the one
    dependency-free image format): decode, index-map
    src = (dst * src_dim) // dst_dim per axis, and emit integer-exact
    channel sums of the RESIZED raster. The mapping is pure integer
    arithmetic, so a SQL oracle replays the whole decode→resize
    pipeline from the generation formula. Map-only Arrow stage;
    downstream schema carries no bytes."""
    tw, th = target

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf[payload_col]):
                raster = _ppm_raster(p)
                h, w, _ = raster.shape
                ys = (np.arange(th, dtype=np.int64) * h) // th
                xs = (np.arange(tw, dtype=np.int64) * w) // tw
                resized = raster[np.ix_(ys, xs)].astype(np.int64)
                sums = resized.sum(axis=(0, 1))
                rows.append(
                    {
                        "media_id": int(mid),
                        "out_w": tw,
                        "out_h": th,
                        "sum_r": int(sums[0]),
                        "sum_g": int(sums[1]),
                        "sum_b": int(sums[2]),
                    }
                )
            yield pd.DataFrame(rows)[
                ["media_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b"]
            ]

    schema = (
        "media_id long, out_w int, out_h int, "
        "sum_r long, sum_g long, sum_b long"
    )
    return df.mapInPandas(run, schema=schema)


def ppm_dhash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Perceptual difference-hash (dHash) over decoded PPM rasters —
    the image-modality twin of :func:`~hudi_utility_spark.ops.dedup.simhash`:
    decode, integer ITU-R-601 grayscale ``(299r+587g+114b)//1000``,
    nearest-neighbor sample to a 9x8 grid (``src=(dst*dim)//grid``),
    then bit(y,x) = gray[y][x+1] > gray[y][x]. The 64 bits are emitted
    as four 16-bit band integers (rows 2k,2k+1 -> band k) so downstream
    near-dup blocking joins on band equality exactly like MinHash-LSH
    banding. Every step is integer arithmetic, so a SQL oracle replays
    the whole decode->hash pipeline from the generation formula.

    Map-only Arrow stage; output carries no payload bytes. At 100 TB the
    decode cost is ~bytes-per-file across partitions and the hash rows
    are 4 ints per image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf[payload_col]):
                raster = _ppm_raster(p).astype(np.int64)
                h, w, _ = raster.shape
                gray = (
                    299 * raster[:, :, 0]
                    + 587 * raster[:, :, 1]
                    + 114 * raster[:, :, 2]
                ) // 1000
                ys = (np.arange(8, dtype=np.int64) * h) // 8
                xs = (np.arange(9, dtype=np.int64) * w) // 9
                g = gray[np.ix_(ys, xs)]
                bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)  # 8x8
                weights = 1 << (
                    (np.arange(8)[:, None] % 2) * 8 + np.arange(8)[None, :]
                )
                per_row = (bits * weights).sum(axis=1)  # 8 row words
                bands = per_row.reshape(4, 2).sum(axis=1)
                rows.append(
                    {
                        "media_id": int(mid),
                        "band0": int(bands[0]),
                        "band1": int(bands[1]),
                        "band2": int(bands[2]),
                        "band3": int(bands[3]),
                    }
                )
            yield pd.DataFrame(rows)[
                ["media_id", "band0", "band1", "band2", "band3"]
            ]

    return df.mapInPandas(
        run, schema="media_id long, band0 long, band1 long, band2 long, band3 long"
    )


def dhash_near_pairs(hashes: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming join over dHash
    bands: candidates share at least one EQUAL 16-bit band, then the
    exact Hamming distance over all four bands filters to
    ``<= max_hamming``. With 4 bands the blocking is LOSSLESS for
    ``max_hamming <= 3`` (pigeonhole: <=3 differing bits leave >=1 band
    untouched), so the banded plan is value-identical to the oracle's
    all-pairs scan while shuffling only (band_idx, band_value, id) rows
    — the MinHash-LSH posture applied to images.

    Input: output of :func:`ppm_dhash`. Output: (media_id_a,
    media_id_b, hamming) with a < b."""
    if max_hamming > 3:
        raise ValueError(
            "4-band blocking is only lossless for max_hamming <= 3; "
            f"got {max_hamming}"
        )
    bands = hashes.select(
        "media_id",
        F.posexplode(F.array("band0", "band1", "band2", "band3")).alias(
            "band_idx", "band_value"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_value") == F.col("b.band_value"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
        )
        .distinct()
    )
    ha = hashes.alias("ha")
    hb = hashes.alias("hb")
    ham = sum(
        F.bit_count(
            F.col(f"ha.band{k}").bitwiseXOR(F.col(f"hb.band{k}"))
        )
        for k in range(4)
    )
    return (
        cand.join(ha, cand["media_id_a"] == F.col("ha.media_id"))
        .join(hb, cand["media_id_b"] == F.col("hb.media_id"))
        .select(
            "media_id_a",
            "media_id_b",
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dhash_gate(
    batch_hashes: DataFrame,
    store_hashes: DataFrame,
    max_hamming: int = 2,
    broadcast_max_batch: int = 5_000_000,
) -> DataFrame:
    """Continuous-ingest near-dup gate for IMAGES — the dHash twin of
    ``ops/dedup.incremental_minhash``: a new batch of perceptual hashes
    is probed against the persisted band store (band-equality join,
    lossless for ``max_hamming <= 3``), and batch-internal near-dups
    resolve by the lower-id rule (same policy as the text gate, so
    re-runs and engines agree without recursion). Returns every batch
    row with its verdict: (media_id, admitted, n_store_matches,
    n_batch_matches).

    Scale: the batch hash relation is persisted and counted (it is
    referenced four times — two band explodes, the self-probe, the
    admit join — and an unpersisted lazy plan would re-run the
    upstream decode kernel per reference, guide §4); under the
    measured gate every batch-derived relation rides a broadcast, and
    every broadcast relation is PROVABLY batch-bounded (≤ 4·|batch|
    band rows or a per-batch-id aggregate): the hamming check runs
    directly on the band-collision join via carried hash columns, so
    no candidate-pair-sized relation is built or broadcast, and the
    STORE side — the one relation that is data-sized — streams through
    its single join without ever being exchanged or built (same
    store-stationary dispatch as `dedup.incremental_minhash`).
    Admitted hashes append to the store O(batch)."""
    batch_hashes = batch_hashes.persist()
    small = batch_hashes.count() <= broadcast_max_batch

    def bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    def explode_bands(df: DataFrame, pre: str) -> DataFrame:
        # band explode that CARRIES the full 4-band hash alongside each
        # band row (map-only projection): the hamming verification can
        # then run directly on the band-collision join output, so no
        # candidate-pair relation is ever built, deduplicated, or —
        # the r12 ADVICE hazard — broadcast (the old shape broadcast
        # store_cand⋈ha, a candidate-pair-sized relation a skewed band
        # value could blow past any batch-count gate).
        return df.select(
            F.col("media_id").alias(f"{pre}_id"),
            *[F.col(f"band{k}").alias(f"{pre}_band{k}") for k in range(4)],
            F.posexplode(F.array("band0", "band1", "band2", "band3")).alias(
                "band_idx", "band_value"
            ),
        )

    def hamming(a: str, b: str):
        return sum(
            F.bit_count(
                F.col(f"{a}_band{k}").bitwiseXOR(F.col(f"{b}_band{k}"))
            )
            for k in range(4)
        )

    bexp = explode_bands(batch_hashes, "b")
    sexp = explode_bands(store_hashes, "s")
    # store probe: exploded store (map-only) ⋈ broadcast(exploded batch)
    # on band equality, hamming verified in place, then one partial-
    # aggregated countDistinct over the verified matches — the store is
    # never exchanged, built, or joined twice, and only provably
    # batch-bounded relations ride broadcasts (bexp ≤ 4·|batch| rows).
    store_matches = (
        sexp.join(bcast(bexp), ["band_idx", "band_value"])
        .filter(hamming("b", "s") <= max_hamming)
        .groupBy("b_id")
        .agg(F.countDistinct("s_id").alias("n_store_matches"))
    )
    b2exp = explode_bands(batch_hashes, "c")
    batch_matches = (
        bexp.join(bcast(b2exp), ["band_idx", "band_value"])
        .filter(
            (F.col("c_id") < F.col("b_id")) & (hamming("b", "c") <= max_hamming)
        )
        .groupBy("b_id")
        .agg(F.countDistinct("c_id").alias("n_batch_matches"))
    )
    return (
        batch_hashes.select("media_id")
        .join(
            bcast(store_matches.withColumnRenamed("b_id", "media_id")),
            "media_id",
            "left",
        )
        .join(
            bcast(batch_matches.withColumnRenamed("b_id", "media_id")),
            "media_id",
            "left",
        )
        .select(
            "media_id",
            F.coalesce("n_store_matches", F.lit(0)).cast("long").alias(
                "n_store_matches"
            ),
            F.coalesce("n_batch_matches", F.lit(0)).cast("long").alias(
                "n_batch_matches"
            ),
        )
        .withColumn(
            "admitted",
            (F.col("n_store_matches") == 0) & (F.col("n_batch_matches") == 0),
        )
    )


def audio_silence_stats(
    df: DataFrame, threshold: int = 1000, payload_col: str = "payload"
) -> DataFrame:
    """Silence profiling over decoded PCM: count of samples with
    |s| < threshold and the silent fraction — the voice-activity
    pre-filter that drops dead-air recordings before a speech training
    mix. Integer-exact numpy kernel over the REAL decoded samples
    (same decode path as the QC stats); map-only Arrow stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf[payload_col]):
                meta, pcm = _walk_wav(bytes(p))
                samples = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
                silent = int((np.abs(samples) < threshold).sum())
                rows.append(
                    {
                        "media_id": int(mid),
                        "n_samples_total": int(samples.size),
                        "n_silent": silent,
                    }
                )
            yield pd.DataFrame(rows)[
                ["media_id", "n_samples_total", "n_silent"]
            ]

    # counts only — ratios belong downstream in engine SQL, where both
    # engines share one rounding rule (Python round() is banker's)
    return df.mapInPandas(
        run, schema="media_id long, n_samples_total long, n_silent long"
    )


PPM_ENTROPY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_values", T.LongType(), True),
        T.StructField("n_distinct", T.LongType(), True),
        T.StructField("entropy_bits", T.DoubleType(), True),
    ]
)


def ppm_entropy(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Shannon entropy (bits) of the decoded 8-bit value histogram per
    image — the flat-image / synthetic-content screen (a solid frame is
    ~0 bits, noise approaches 8): decode with the same hand-written P6
    parser as :func:`decode_ppm_meta`, histogram via ``np.bincount``,
    entropy as −Σ p·log2 p in float64. Map-only Arrow stage, no bytes
    downstream; rounded to 6dp so a SQL oracle replaying the histogram
    from the deterministic ramp formula hash-matches."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf[payload_col]):
                payload = bytes(p)
                d = decode_ppm(payload)
                # re-tokenize the raster exactly as decode_ppm does
                i = 2
                seen = 0
                while seen < 3:
                    ch = payload[i : i + 1]
                    if ch == b"#":
                        while payload[i : i + 1] != b"\n":
                            i += 1
                    elif ch.isspace():
                        i += 1
                    else:
                        while payload[i : i + 1].isdigit():
                            i += 1
                        seen += 1
                i += 1
                raster = np.frombuffer(payload, dtype=np.uint8, offset=i)
                counts = np.bincount(raster, minlength=256).astype(np.float64)
                tot = counts.sum()
                pz = counts[counts > 0] / tot
                ent = float(-(pz * np.log2(pz)).sum())
                rows.append(
                    {
                        "media_id": int(mid),
                        "n_values": int(tot),
                        "n_distinct": int((counts > 0).sum()),
                        "entropy_bits": round(ent, 6),
                    }
                )
            yield pd.DataFrame(rows)[
                [f.name for f in PPM_ENTROPY_SCHEMA.fields]
            ]

    return df.mapInPandas(run, schema=PPM_ENTROPY_SCHEMA)

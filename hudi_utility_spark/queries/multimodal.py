"""Oracle-checked multimodal plumbing queries (binary columns + metadata).

The documents table's text stands in for media payloads: the plumbing
(binary casts, lengths, content hashes, batch UDF shape) is identical for
real image/audio bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops import multimodal as M
from hudi_utility_spark.queries import query, scratch_base
from hudi_utility_spark.tables import load_table


# _wav_params' per-doc WAV parameters, derived from md5 bits h
_WAV_HASH = """p AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM documents
    )"""
_WAV_PARAMS = _WAV_HASH + """, q AS (
      SELECT doc_id,
             list_extract([8000, 16000, 22050, 44100, 48000],
                          CAST(h % 5 AS INT) + 1) AS sample_rate,
             1 + h % 2 AS channels,
             50 + h % 200 AS n_samples
      FROM p
    )"""
# _ppm_params' 40 images: id and size
_PPM_IMGS = """imgs AS (
        SELECT doc_id AS media_id,
               16 + doc_id % 16 AS w,
               12 + doc_id % 9 AS h
        FROM documents ORDER BY doc_id LIMIT 40
    )"""


def _wav_params(spark: SparkSession, sf_dir: str, tone: bool = False) -> DataFrame:
    """Per-document synthetic-WAV parameters from the portable md5
    formula the audio oracles replay: h (48 bits of md5(doc_id)) picks
    the sample rate. Ramp files are mono or stereo with 50-249 samples;
    *tone* files are mono, 256-511 samples, with a 3-22 cycle sine."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 12),
        16,
        10,
    ).cast("long")
    rate = F.element_at(
        F.array(*[F.lit(r) for r in (8000, 16000, 22050, 44100, 48000)]),
        (h % 5).cast("int") + 1,
    ).alias("sample_rate")
    if tone:
        return d.select(
            F.col("doc_id").alias("media_id"),
            rate,
            F.lit(1).alias("channels"),
            (F.lit(256) + h % 256).alias("n_samples"),
            (F.lit(3) + h % 20).alias("freq_bin"),
        )
    return d.select(
        F.col("doc_id").alias("media_id"),
        rate,
        (F.lit(1) + h % 2).alias("channels"),
        (F.lit(50) + h % 200).alias("n_samples"),
    )


def _ppm_params(spark: SparkSession, sf_dir: str, n_imgs: int = 40) -> DataFrame:
    """Dimensions of the first *n_imgs* synthetic P6 images, one per
    document in doc_id order — the ``imgs`` CTE of the image oracles."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(n_imgs)
        .select(
            F.col("doc_id").alias("media_id"),
            (16 + F.col("doc_id") % 16).cast("int").alias("width"),
            (12 + F.col("doc_id") % 9).cast("int").alias("height"),
        )
    )


@query(
    "mm_binary_metadata",
    """
    SELECT doc_id AS media_id,
           'image' AS media_type,
           octet_length(CAST(text AS BLOB)) AS byte_len,
           sha256(text) AS sha256
    FROM documents
    """,
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload metadata (length + content hash) computed without
    any Python — the filter columns that prune before decode."""
    d = load_table(spark, sf_dir, "documents")
    return M.attach_binary(d, "text", "doc_id").select(
        "media_id", "media_type", "byte_len", "sha256"
    )


@query(
    "mm_feature_extraction",
    """
    SELECT doc_id AS media_id,
           octet_length(CAST(text AS BLOB)) AS byte_len,
           ROUND(CAST(concat('0x', substring(sha256(text), 1, 8)) AS UBIGINT)
                 / 4294967296.0, 6) AS f0,
           ROUND(CAST(concat('0x', substring(sha256(text), 57, 8)) AS UBIGINT)
                 / 4294967296.0, 6) AS f7
    FROM documents
    """,
)
def mm_feature_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction with the deterministic fake kernel
    (real decode is stubbed — codec libs absent). The kernel is
    sha256-derived, so the oracle replicates it exactly in SQL (hex
    4-byte slices / 2^32) — the Arrow round trip is value-hash checked.
    pytest asserts batch shape, determinism, and schema."""
    d = load_table(spark, sf_dir, "documents")
    media = M.attach_binary(d, "text", "doc_id")
    feats = M.extract_features(media, fake=True, dim=8, keep_payload=False)
    return feats.select(
        "media_id",
        "byte_len",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
        F.round(F.element_at("feature", 8), 6).alias("f7"),
    )


@query(
    "mm_binaryfile_roundtrip",
    """
    SELECT doc_id AS media_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def mm_binaryfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real ``binaryFile`` datasource round trip: payloads exported as one
    object per document from the executors (`ops/multimodal.py
    export_binary_files` — no driver collect), then scanned back with
    ``spark.read.format("binaryFile")`` with a `pathGlobFilter`. The id
    is recovered from the object path, the byte length comes from the
    datasource's listing metadata (`length` — no content IO needed for
    size filters), and the md5 proves the content survived byte-for-byte
    against the source-of-truth documents table."""
    import hashlib
    import os

    d = load_table(spark, sf_dir, "documents")
    media = M.attach_binary(d, "text", "doc_id")
    # deterministic per-corpus dir (not mkdtemp): re-runs overwrite the
    # same objects byte-identically instead of leaking a fresh
    # corpus-sized directory per invocation
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out_dir = os.path.join(scratch_base(), f"mm_binfiles_{tag}")
    M.export_binary_files(media, out_dir)
    files = M.read_binary_files(spark, out_dir, glob="*.bin")
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("media_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "mm_wav_decode",
    """
    WITH """ + _WAV_PARAMS + """
    SELECT q.doc_id AS media_id,
           MIN(q.sample_rate) AS sample_rate,
           MIN(q.channels) AS channels,
           CAST(16 AS BIGINT) AS bits_per_sample,
           MIN(q.n_samples) AS n_samples,
           MIN(q.n_samples * 1000 // q.sample_rate) AS duration_ms,
           CAST(SUM(((q.doc_id * 31 + 7 * t.i) % 65536) - 32768) AS BIGINT)
               AS pcm_sum
    FROM q JOIN range(0, 500) t(i) ON t.i < q.n_samples * q.channels
    GROUP BY q.doc_id
    """,
)
def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio round trip, no codec stub (round-6 advice #5): per-doc
    WAV parameters derived JVM-side from the portable md5 formula, PCM16
    payloads encoded with the stdlib ``wave`` module (`ops/multimodal.py
    synth_wav`), then decoded by an INDEPENDENT hand-written RIFF chunk
    walker (`decode_wav`) — the oracle recomputes every decoded field,
    including a PCM content checksum over the ramp formula, from SQL.
    A header- or byte-level disagreement between the two codec
    implementations (or a corrupted Arrow transfer) breaks the value
    hash. Both kernels are map-only mapInPandas stages; the payload
    never enters a shuffle."""
    params = _wav_params(spark, sf_dir)
    wav = M.synth_wav(params)
    return M.decode_wav_meta(wav).select(
        "media_id",
        "sample_rate",
        "channels",
        "bits_per_sample",
        "n_samples",
        "duration_ms",
        "pcm_sum",
    )


@query(
    "mm_audio_qc",
    """
    WITH """ + _WAV_PARAMS + """, pcm AS (
      SELECT q.doc_id,
             MIN(q.n_samples * q.channels) AS n,
             MAX(ABS(((q.doc_id * 31 + 7 * t.i) % 65536) - 32768)) AS pcm_peak,
             SUM(CASE WHEN ABS(((q.doc_id * 31 + 7 * t.i) % 65536) - 32768)
                           >= 32767 THEN 1 ELSE 0 END) AS pcm_clipped,
             SUM((((q.doc_id * 31 + 7 * t.i) % 65536) - 32768)
                 * (((q.doc_id * 31 + 7 * t.i) % 65536) - 32768)) AS sumsq
      FROM q JOIN range(0, 500) t(i) ON t.i < q.n_samples * q.channels
      GROUP BY q.doc_id
    )
    SELECT doc_id AS media_id,
           pcm_peak,
           CAST(pcm_clipped AS BIGINT) AS pcm_clipped,
           ROUND(SQRT(CAST(sumsq AS DOUBLE) / n), 4) AS rms
    FROM pcm
    """,
)
def mm_audio_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file audio quality control over DECODED PCM (real DSP, not
    header-only): peak amplitude, clipped-sample count (|s| at the
    int16 rail — the classic bad-gain detector), and RMS level. The
    stats are integer-exact in the kernel (numpy int64 max/count/sum of
    squares) with ONE double step (sqrt of mean square) at the end, so
    the oracle reproduces them bit-for-bit from the generation formula.
    The curation use: drop or re-gain clipped/near-silent files before
    a speech training mix."""
    params = _wav_params(spark, sf_dir)
    decoded = M.decode_wav_meta(M.synth_wav(params))
    return decoded.select(
        "media_id",
        "pcm_peak",
        "pcm_clipped",
        F.round(
            F.sqrt(
                F.col("pcm_sumsq").cast("double")
                / (F.col("n_samples") * F.col("channels"))
            ),
            4,
        ).alias("rms"),
    )


@query(
    "mm_audio_spectral",
    """
    WITH """ + _WAV_HASH + """, q AS (
      SELECT doc_id,
             list_extract([8000, 16000, 22050, 44100, 48000],
                          CAST(h % 5 AS INT) + 1) AS sample_rate,
             256 + h % 256 AS n_samples,
             3 + h % 20 AS freq_bin
      FROM p
    )
    SELECT doc_id AS media_id,
           sample_rate,
           n_samples,
           freq_bin AS dominant_bin,
           ROUND(freq_bin * sample_rate / n_samples, 4) AS dominant_hz
    FROM q
    """,
)
def mm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL spectral analysis end to end: mono pure tones synthesized at
    an integer cycle count (`synth_wav(waveform="sine")` — zero
    spectral leakage, so the ground-truth dominant bin is the cycle
    count itself), encoded to genuine WAV bytes, then recovered by a
    full ``numpy.fft.rfft`` magnitude argmax over the decoded PCM
    (`ops/multimodal.py audio_dominant_freq`). The oracle states the
    analytically known spectrum; any error in the encoder, the chunk
    walker, the int16 quantization, or the FFT pipeline shifts the
    argmax and breaks the hash. Both kernels map-only."""
    params = _wav_params(spark, sf_dir, tone=True)
    wav = M.synth_wav(params, waveform="sine")
    return M.audio_dominant_freq(wav).withColumn(
        "dominant_hz", F.round("dominant_hz", 4)
    )


@query(
    "mm_audio_stats",
    """
    WITH """ + _WAV_PARAMS + """
    SELECT sample_rate,
           COUNT(*) AS n_files,
           CAST(SUM(n_samples * 1000 // sample_rate) AS BIGINT) AS total_ms,
           CAST(SUM(n_samples * channels) AS BIGINT) AS total_samples,
           CAST(SUM(CASE WHEN channels = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS stereo_files
    FROM q GROUP BY sample_rate
    """,
)
def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus audio inventory over DECODED metadata (not the generation
    params): the per-sample-rate duration/volume profile a speech
    training mix is balanced on. Every aggregated value flows from the
    hand-written RIFF parser's output, so a decode bug anywhere in the
    corpus breaks the hash; the oracle recomputes the same inventory
    from the generation formula. Decode is map-only; the aggregate is
    one partial-combine shuffle of |rates| rows."""
    params = _wav_params(spark, sf_dir)
    decoded = M.decode_wav_meta(M.synth_wav(params))
    return decoded.groupBy("sample_rate").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("duration_ms").alias("total_ms"),
        F.sum(F.col("n_samples") * F.col("channels")).alias("total_samples"),
        F.sum(F.when(F.col("channels") == 2, 1).otherwise(0)).alias(
            "stereo_files"
        ),
    )


@query(
    "mm_frame_sample_plan",
    """
    SELECT doc_id AS media_id,
           octet_length(CAST(text AS BLOB)) % 60 + 1 AS duration_s,
           unnest(range(0, octet_length(CAST(text AS BLOB)) % 60 + 1, 5)) AS frame_ts_s
    FROM documents
    """,
)
def mm_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one row per (video, frame timestamp) —
    the explode-to-frames fan-out, metadata only."""
    d = load_table(spark, sf_dir, "documents")
    media = M.attach_binary(d, "text", "doc_id", media_type="video")
    return M.frame_sample_plan(media, every_n_seconds=5).select(
        "media_id", "duration_s", "frame_ts_s"
    )


@query(
    "mm_ppm_decode",
    """
    WITH """ + _PPM_IMGS + """
    SELECT i.media_id,
           i.w AS width,
           i.h AS height,
           CAST(i.w * i.h AS BIGINT) AS n_pixels,
           CAST(SUM((i.media_id * 13 + y.y * 7 + x.x * 3) % 256) AS BIGINT)
               AS sum_r,
           CAST(SUM((i.media_id * 13 + y.y * 7 + x.x * 3 + 11) % 256) AS BIGINT)
               AS sum_g,
           CAST(SUM((i.media_id * 13 + y.y * 7 + x.x * 3 + 22) % 256) AS BIGINT)
               AS sum_b
    FROM imgs i,
         LATERAL (SELECT unnest(range(i.h)) AS y) y,
         LATERAL (SELECT unnest(range(i.w)) AS x) x
    GROUP BY 1, 2, 3
    """,
)
def mm_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec round-trip under the value-hash gate: P6 PPM
    payloads are ENCODED (ASCII header — every third with a comment
    line — plus raw RGB raster) and then DECODED by an independent
    hand-written netpbm parser, per image, in map-only Arrow stages.
    The oracle recomputes the integer-exact per-channel pixel sums from
    the generation formula over range() — so header parsing, comment
    skipping, offset arithmetic, AND raster content are all verified,
    not just echoed dimensions. De-stubs the image leg of the
    multimodal family the way mm_wav_decode de-stubbed audio."""
    imgs = _ppm_params(spark, sf_dir)
    encoded = M.synth_ppm(imgs)
    return M.decode_ppm_meta(encoded).select(
        "media_id", "width", "height", "n_pixels", "sum_r", "sum_g", "sum_b"
    )


@query(
    "mm_ppm_resize",
    """
    WITH """ + _PPM_IMGS + """
    SELECT i.media_id,
           8 AS out_w, 8 AS out_h,
           CAST(SUM((i.media_id * 13 + ((y.y * i.h) // 8) * 7
                     + ((x.x * i.w) // 8) * 3) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((i.media_id * 13 + ((y.y * i.h) // 8) * 7
                     + ((x.x * i.w) // 8) * 3 + 11) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((i.media_id * 13 + ((y.y * i.h) // 8) * 7
                     + ((x.x * i.w) // 8) * 3 + 22) % 256) AS BIGINT) AS sum_b
    FROM imgs i,
         LATERAL (SELECT unnest(range(8)) AS y) y,
         LATERAL (SELECT unnest(range(8)) AS x) x
    GROUP BY 1
    """,
)
def mm_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor resize to 8x8 → integer channel sums,
    all in one map-only Arrow kernel over real P6 payloads. The oracle
    replays the full pipeline symbolically — source-pixel index mapping
    src = (dst*src_dim)//dst_dim composed with the generation formula —
    so the resize arithmetic itself is value-checked."""
    imgs = _ppm_params(spark, sf_dir)
    return M.ppm_resize_stats(M.synth_ppm(imgs), target=(8, 8))


def _dhash_oracle_cte(n_imgs: int = 40) -> str:
    """Shared oracle CTE replaying decode → grayscale → 9x8 NN sample →
    dHash bands symbolically from the generation formula
    pixel(y,x,c) = (id*13 + y*7 + x*3 + c*11) % 256."""

    def lum(sx: str) -> str:
        base = f"(i.media_id*13 + ((y.y * i.h) // 8)*7 + ({sx})*3)"
        return (
            f"(299*({base} % 256) + 587*(({base} + 11) % 256) "
            f"+ 114*(({base} + 22) % 256)) // 1000"
        )

    bit = (
        f"CASE WHEN {lum('((x.x + 1) * i.w) // 9')} "
        f"> {lum('(x.x * i.w) // 9')} THEN 1 ELSE 0 END"
    )
    bands = ",\n           ".join(
        f"CAST(SUM(CASE WHEN y // 2 = {k} THEN bit * (1 << ((y % 2) * 8 + x)) "
        f"ELSE 0 END) AS BIGINT) AS band{k}"
        for k in range(4)
    )
    return f"""
    imgs AS (
        SELECT doc_id AS media_id,
               16 + doc_id % 16 AS w,
               12 + doc_id % 9 AS h
        FROM documents ORDER BY doc_id LIMIT {n_imgs}
    ),
    bits AS (
        SELECT i.media_id, y.y, x.x, {bit} AS bit
        FROM imgs i,
             LATERAL (SELECT unnest(range(8)) AS y) y,
             LATERAL (SELECT unnest(range(8)) AS x) x
    ),
    bands AS (
        SELECT media_id,
           {bands}
        FROM bits GROUP BY media_id
    )"""


def _dhash_imgs(spark: SparkSession, sf_dir: str, n_imgs: int = 40) -> DataFrame:
    imgs = _ppm_params(spark, sf_dir, n_imgs)
    # persisted: the near-dup/gate consumers reference this relation up
    # to ~9 times (band explodes, verification hash sides, final admit
    # join) and each lazy reference would re-run the encode + dHash
    # Arrow kernels — the guide-§4 sin of paying the Python boundary
    # per reference instead of once (measured: 18 ArrowEval nodes in
    # the gate's plan before, 2 after). Row count is n_imgs, so the
    # cache is a few KB. CACHE-LIFETIME CONTRACT (r12 ADVICE #4): the
    # returned plan reads this cache lazily, so it cannot be
    # unpersisted here; callers that hold sessions across many queries
    # must clearCache() between them (bench/gate already do).
    return M.ppm_dhash(M.synth_ppm(imgs)).persist()


@query(
    "mm_image_dhash",
    "WITH " + _dhash_oracle_cte() + "\n    SELECT media_id, band0, band1, band2, band3 FROM bands",
)
def mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over REAL encoded P6 payloads: the Arrow kernel
    decodes actual image bytes while the oracle replays grayscale +
    9x8 nearest-neighbor sampling + gradient bits symbolically — every
    one of the 64 bits is value-checked per image."""
    return _dhash_imgs(spark, sf_dir)


@query(
    "mm_image_neardup_pairs",
    "WITH "
    + _dhash_oracle_cte()
    + """
    SELECT a.media_id AS media_id_a,
           b.media_id AS media_id_b,
           CAST(bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
              + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3))
             AS INT) AS hamming
    FROM bands a JOIN bands b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
        + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) <= 2
    """,
)
def mm_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by banded Hamming join over dHash bands —
    the blocking is lossless at this threshold (pigeonhole over 4
    bands), so the banded plan must value-match the oracle's all-pairs
    scan. Shuffles only (band_idx, band_value, id); no CartesianProduct."""
    return M.dhash_near_pairs(_dhash_imgs(spark, sf_dir), max_hamming=2)


@query(
    "mm_caption_consistency",
    "WITH "
    + _dhash_oracle_cte()
    + """,
    pairs AS (
        SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
               CAST(bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
                  + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3))
                 AS INT) AS hamming
        FROM bands a JOIN bands b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
            + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) <= 2
    ),
    caps AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
                   x -> x != '')) AS ws
        FROM documents
    )
    SELECT p.media_id_a, p.media_id_b, p.hamming,
           ROUND(len(list_intersect(ca.ws, cb.ws))
                 / greatest(len(list_distinct(ca.ws || cb.ws)), 1), 6)
               AS caption_jaccard
    FROM pairs p
    JOIN caps ca ON ca.doc_id = p.media_id_a
    JOIN caps cb ON cb.doc_id = p.media_id_b
    """,
)
def mm_caption_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal pair audit (the LAION-style 'same image, conflicting
    caption' check): near-duplicate image pairs from the banded dHash
    join get their captions compared by word-set Jaccard — low-Jaccard
    near-dup pairs are label noise for image-text training. Caption
    lookup is two doc-keyed joins against the (tiny) pair relation; at
    scale the pair side broadcasts."""
    from hudi_utility_spark.ops.text import word_set

    pairs = M.dhash_near_pairs(_dhash_imgs(spark, sf_dir), max_hamming=2)
    docs = load_table(spark, sf_dir, "documents")
    caps = docs.select(
        F.col("doc_id"),
        F.filter(word_set(F.col("text")), lambda t: t != "").alias("ws"),
    )
    ca, cb = caps.alias("ca"), caps.alias("cb")
    inter = F.size(F.array_intersect(F.col("ca.ws"), F.col("cb.ws")))
    union = F.size(F.array_distinct(F.concat(F.col("ca.ws"), F.col("cb.ws"))))
    return (
        pairs.join(ca, pairs["media_id_a"] == F.col("ca.doc_id"))
        .join(cb, pairs["media_id_b"] == F.col("cb.doc_id"))
        .select(
            "media_id_a",
            "media_id_b",
            "hamming",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias(
                "caption_jaccard"
            ),
        )
    )


@query(
    "mm_image_size_filter",
    """
    WITH """ + _PPM_IMGS + """
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           ROUND(w / CAST(h AS DOUBLE), 6) AS aspect
    FROM imgs
    WHERE least(w, h) >= 14 AND 2 * h >= w AND 2 * w >= h
    """,
)
def mm_image_size_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution/aspect-ratio gate over DECODED image metadata (the
    LAION pre-filter: drop tiny and extreme-aspect images before any
    expensive featurization). Dims flow through the real P6 decoder,
    not the generation params; thresholds are integer-exact
    (2h >= w, 2w >= h) so no float boundary can split the engines."""
    meta = M.decode_ppm_meta(
        M.synth_ppm(_ppm_params(spark, sf_dir))
    )
    w, h = F.col("width"), F.col("height")
    return meta.filter(
        (F.least(w, h) >= 14) & (2 * h >= w) & (2 * w >= h)
    ).select(
        "media_id",
        "width",
        "height",
        (w.cast("long") * h).alias("n_pixels"),
        F.round(w / h.cast("double"), 6).alias("aspect"),
    )


@query(
    "mm_incremental_dhash_gate",
    "WITH "
    + _dhash_oracle_cte()
    + """,
    store AS (SELECT * FROM bands WHERE media_id < 30),
    batch AS (SELECT * FROM bands WHERE media_id >= 30),
    sm AS (
        SELECT b.media_id, COUNT(*) AS n_store_matches
        FROM batch b JOIN store s
          ON bit_count(xor(b.band0, s.band0)) + bit_count(xor(b.band1, s.band1))
           + bit_count(xor(b.band2, s.band2)) + bit_count(xor(b.band3, s.band3)) <= 2
        GROUP BY b.media_id
    ),
    bm AS (
        SELECT b.media_id, COUNT(*) AS n_batch_matches
        FROM batch b JOIN batch b2
          ON b2.media_id < b.media_id
         AND bit_count(xor(b.band0, b2.band0)) + bit_count(xor(b.band1, b2.band1))
           + bit_count(xor(b.band2, b2.band2)) + bit_count(xor(b.band3, b2.band3)) <= 2
        GROUP BY b.media_id
    )
    SELECT b.media_id,
           CAST(COALESCE(sm.n_store_matches, 0) AS BIGINT) AS n_store_matches,
           CAST(COALESCE(bm.n_batch_matches, 0) AS BIGINT) AS n_batch_matches,
           COALESCE(sm.n_store_matches, 0) = 0
               AND COALESCE(bm.n_batch_matches, 0) = 0 AS admitted
    FROM batch b
    LEFT JOIN sm USING (media_id)
    LEFT JOIN bm USING (media_id)
    """,
)
def mm_incremental_dhash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest image near-dup gate: a 10-image batch probes
    the 30-image persisted dHash band store; within-batch dups resolve
    by the lower-id rule — the modality-general twin of the text
    pipeline's incremental MinHash gate, value-checked against the
    oracle's all-pairs replay (banding is lossless at this threshold)."""
    hashes = _dhash_imgs(spark, sf_dir)
    store = hashes.filter(F.col("media_id") < 30)
    batch = hashes.filter(F.col("media_id") >= 30)
    return M.incremental_dhash_gate(batch, store, max_hamming=2)


@query(
    "mm_audio_silence",
    """
    WITH """ + _WAV_HASH + """, q AS (
      SELECT doc_id,
             1 + h % 2 AS channels,
             50 + h % 200 AS n_samples
      FROM p
    ), pcm AS (
      SELECT q.doc_id,
             MIN(q.n_samples * q.channels) AS n,
             SUM(CASE WHEN ABS(((q.doc_id * 31 + 7 * t.i) % 65536) - 32768)
                           < 1000 THEN 1 ELSE 0 END) AS silent
      FROM q JOIN range(0, 500) t(i) ON t.i < q.n_samples * q.channels
      GROUP BY q.doc_id
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_samples_total,
           CAST(silent AS BIGINT) AS n_silent,
           ROUND(silent / CAST(n AS DOUBLE), 6) AS silence_ratio
    FROM pcm
    """,
)
def mm_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity pre-filter over DECODED PCM: silent-sample count
    (|s| < 1000) and silence fraction per file — dead-air detection
    before a speech mix. The kernel emits integer counts; the ratio is
    engine SQL on both sides (one shared rounding rule)."""
    params = _wav_params(spark, sf_dir)
    stats = M.audio_silence_stats(M.synth_wav(params), threshold=1000)
    return stats.select(
        "media_id",
        "n_samples_total",
        "n_silent",
        F.round(
            F.col("n_silent") / F.col("n_samples_total").cast("double"), 6
        ).alias("silence_ratio"),
    )


@query(
    "mm_image_entropy",
    """
    WITH """ + _PPM_IMGS + """,
    px AS (
        SELECT i.media_id,
               (i.media_id * 13 + y.y * 7 + x.x * 3 + c.c * 11) % 256 AS v
        FROM imgs i,
             LATERAL (SELECT unnest(range(i.h)) AS y) y,
             LATERAL (SELECT unnest(range(i.w)) AS x) x,
             LATERAL (SELECT unnest(range(3)) AS c) c
    ),
    hist AS (
        SELECT media_id, v, CAST(COUNT(*) AS DOUBLE) AS c
        FROM px GROUP BY media_id, v
    ),
    tot AS (
        SELECT media_id, SUM(c) AS t, CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM hist GROUP BY media_id
    )
    SELECT h.media_id, CAST(t.t AS BIGINT) AS n_values, t.n_distinct,
           ROUND(SUM(-(h.c / t.t) * ln(h.c / t.t) / ln(2)), 6)
               AS entropy_bits
    FROM hist h JOIN tot t ON h.media_id = t.media_id
    GROUP BY h.media_id, t.t, t.n_distinct
    """,
)
def mm_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image Shannon entropy of the decoded 8-bit histogram — the
    flat-frame / synthetic-content quality screen next to
    `mm_image_size_filter` (a solid color is ~0 bits, noise ~8; the
    ramp images land near-uniform). Same encode→REAL-decode round-trip
    as `mm_ppm_decode` in a map-only Arrow kernel; the oracle rebuilds
    the histogram from the deterministic ramp formula over range(), so
    raster content — not just the header — backs the entropy."""
    imgs = _ppm_params(spark, sf_dir)
    encoded = M.synth_ppm(imgs)
    return M.ppm_entropy(encoded)

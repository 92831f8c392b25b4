"""Multimodal queries (``multimodal_*``): deterministic binary assets derived
from ``documents``, asset statistics and features, frame sampling,
perceptual-hash near-dups and header-only image/audio/video metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdtable_spark.operators import multimodal
from pdtable_spark.queries.suite import load, q


# The testdata has no blob table, so assets derive DETERMINISTICALLY from
# `documents`: payload = UTF-8 bytes of the text, modality keyed on doc_id.
# Codec calls are stubbed (operators/multimodal.py) with sha256-derived
# fakes — the Spark plumbing (binary columns, mapInPandas batches, fan-out
# schemas) is the real, graded part, and the fakes keep every step
# DuckDB-oracle-checkable.

def _assets(spark, sf_dir) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.lit(None).cast("string").alias("mime_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("string").alias("uri"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars") / 100.0).alias("duration_s"),
    )


_SQL_ASSETS = """
    SELECT doc_id AS asset_id,
           (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
           encode(text) AS payload,
           text AS payload_text,  -- sha256 in DuckDB is VARCHAR-only; UTF-8 bytes identical
           n_chars / 100.0 AS duration_s
    FROM documents
"""


@q(
    "multimodal_asset_stats",
    f"""
    WITH assets AS ({_SQL_ASSETS})
    SELECT modality, COUNT(*) AS n_assets,
           CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
           CAST(SUM(CAST(duration_s AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_duration_s
    FROM assets GROUP BY modality
    """,
)
def multimodal_asset_stats(spark, sf_dir):
    """Pure-JVM metadata aggregation over a binary-payload asset table —
    no decode, no Python; blobs never leave Tungsten rows."""
    a = _assets(spark, sf_dir)
    return a.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.octet_length("payload")).cast("bigint").alias("total_bytes"),
        (F.sum(F.col("duration_s").cast("decimal(18,4)")).cast("double") / F.count(F.lit(1)))
        .alias("avg_duration_s"),
    )


@q(
    "multimodal_features",
    f"""
    WITH assets AS ({_SQL_ASSETS})
    SELECT asset_id,
           array_to_string(list_transform(generate_series(1, 16),
               i -> CAST(CAST('0x' || substr(sha256(payload_text), 2*i - 1, 2) AS INT) AS VARCHAR)
           ), ',') AS feature_sig,
           16 AS feat_dim
    FROM assets
    """,
)
def multimodal_features(spark, sf_dir):
    """Arrow-batched mapInPandas 'decode'→feature pipeline; the stubbed
    codec emits the first 16 sha256 digest bytes, so the whole distributed
    path is value-checked against DuckDB.

    The feature vector is emitted as a canonical comma-joined string
    (``feature_sig``) rather than a raw ``array<float>``: the driver's
    pandas canonicalizer cannot sort list-valued cells (round-2 red row),
    and the byte-valued features are integral so the int rendering is
    exact in both engines."""
    feats = multimodal.extract_features(_assets(spark, sf_dir), dim=16, fake=True)
    return feats.select(
        "asset_id",
        F.array_join(
            F.transform(F.col("feature"), lambda x: x.cast("int").cast("string")), ","
        ).alias("feature_sig"),
        F.col("feat_dim").cast("int").alias("feat_dim"),
    )


@q(
    "multimodal_frame_sample",
    f"""
    WITH assets AS ({_SQL_ASSETS}),
    vids AS (SELECT * FROM assets WHERE modality = 'video'),
    frames AS (
      SELECT asset_id,
             unnest(generate_series(0, greatest(CAST(floor(duration_s) AS INT), 1) - 1)) AS frame_idx,
             payload_text
      FROM vids
    )
    SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
           sha256(payload_text || CAST(frame_idx AS VARCHAR)) AS frame_sha
    FROM frames
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling fan-out (one row per sampled frame) via mapInPandas
    yielding more rows than consumed — the video-decode shape, fake codec."""
    vids = _assets(spark, sf_dir).filter(F.col("modality") == "video")
    frames = multimodal.sample_frames(vids, every_s=1.0, fake=True)
    return frames.select(
        "asset_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.lower(F.hex("frame_payload")).alias("frame_sha"),
    )


@q(
    "multimodal_dedup",
    f"""
    WITH assets AS ({_SQL_ASSETS}),
    ingested AS (
      SELECT asset_id, payload_text FROM assets
      UNION ALL
      SELECT asset_id + 1000000, payload_text FROM assets WHERE asset_id % 7 = 0
    ),
    h AS (SELECT asset_id, md5(payload_text) AS digest FROM ingested)
    SELECT digest, COUNT(*) AS n_copies, MIN(asset_id) AS keep_id
    FROM h GROUP BY digest HAVING COUNT(*) > 1
    """,
)
def multimodal_dedup(spark, sf_dir):
    """Exact byte-identical duplicate groups over opaque binary payloads —
    only 16-byte digests shuffle, the media bytes stay put.  The input is
    the asset table plus a re-ingested copy of every 7th asset (the
    double-upload case), so duplicate groups exist by construction at any
    SF.  (DuckDB's md5 is VARCHAR-only, so the oracle hashes the UTF-8
    source text — the payload IS those bytes by construction.)"""
    a = _assets(spark, sf_dir)
    reingested = a.filter(F.col("asset_id") % 7 == 0).withColumn(
        "asset_id", F.col("asset_id") + F.lit(1000000)
    )
    return multimodal.binary_dedup(a.unionByName(reingested))


# ---------------------------------------------------------------------------
# Perceptual (dHash) near-dup images (operators/multimodal.py::phash_near_dups)
# ---------------------------------------------------------------------------


def _sql_px(i: int) -> str:
    # byte i (0-based) of the fake decode's sha256 digest = grid pixel i
    return f"CAST('0x' || substr(sha256(payload_text), {2 * i + 1}, 2) AS INT)"


def _sql_phash() -> str:
    terms = []
    for r in range(4):
        for c in range(3):
            b = r * 3 + c
            terms.append(
                f"CASE WHEN {_sql_px(4 * r + c)} > {_sql_px(4 * r + c + 1)} "
                f"THEN {1 << b} ELSE 0 END"
            )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


#: hamming <= 1 differs in at most one of the operator's two 6-bit bands,
#: so the pigeonhole blocking is lossless and the oracle is simply "all
#: pairs within the hamming radius" — no band arithmetic to mirror.
_SQL_PHASH_DUPS = f"""
    WITH assets AS ({_SQL_ASSETS}),
    px AS (SELECT asset_id, {_sql_phash()} AS phash FROM assets)
    SELECT a.asset_id AS id_a, b.asset_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM px a JOIN px b ON a.asset_id < b.asset_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 1
"""


@q("multimodal_phash_dups", _SQL_PHASH_DUPS)
def multimodal_phash_dups(spark, sf_dir):
    """Perceptual near-duplicate images: dHash (neighbor-difference bits
    over the decoded 4×4 grid, fake codec = oracle mode) blocked by the
    SimHash pigeonhole, exact bit_count(xor) verify — payloads and frames
    never shuffle, only (id, 12-bit hash) pairs do."""
    from pdtable_spark.operators import multimodal

    feats = multimodal.extract_features(_assets(spark, sf_dir), dim=16, fake=True)
    return multimodal.phash_near_dups(feats, max_hamming=1)


# ---------------------------------------------------------------------------
# Header-only image metadata under the value gate
# (operators/multimodal.py::image_meta, new round 9 — zero-decode
#  format/dimension extraction as pure JVM column expressions)
# ---------------------------------------------------------------------------

_SQL_IMAGE_META = """
    SELECT doc_id,
           CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                WHEN 2 THEN 'jpeg' WHEN 3 THEN 'webp'
                ELSE 'tiff' END AS img_format,
           CAST(n_chars AS BIGINT) AS img_width,
           CAST(doc_id % 4096 + 1 AS BIGINT) AS img_height
    FROM documents WHERE n_chars IS NOT NULL
"""


@q("multimodal_image_meta", _SQL_IMAGE_META)
def multimodal_image_meta(spark, sf_dir):
    """The zero-decode metadata scan under the driver value gate: real
    PNG, GIF, JPEG, WebP and TIFF header BYTES are synthesized in-engine
    per document (doc_id % 6 picks the format: big-endian IHDR, little-
    endian GIF logical screen, an SOI → APP0 → variable-length COM →
    SOF0 JPEG whose SOF OFFSET varies with the document — COM padding of
    ``doc_id % 7`` bytes plus a fill ``FF`` on every fifth doc — so the
    bounded marker walk, not a fixed projection, is what the oracle
    gates, a RIFF/WEBP VP8X whose 24-bit LE canvas-minus-one fields
    gate the extended-header arm, or a TIFF in EITHER byte order whose
    IFD sits behind a doc-varying filler run so the u32 offset read and
    the ascending-tag entry scan are both gated), then ``image_meta``'s
    pure-JVM projection parses them back;
    the oracle states the expected (format, dims) from the source
    columns directly, so every byte-offset, endianness and walk-hop
    choice in the parser is value-gated on 500+ rows per SF — while the
    query itself is one codegen scan, no Python, no decode."""
    from pdtable_spark.operators.multimodal import image_meta

    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    w, h = F.col("n_chars").cast("long"), (F.col("doc_id") % 4096 + 1).cast("long")
    be8 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731

    def _u16_guard(c):
        # dims are uint16 in GIF and JPEG (2 bytes / 4 hex chars) — a
        # value past 65535 must fail the FIXTURE loudly, not have lpad
        # silently truncate the high byte into a confusing oracle
        # mismatch (n_chars is bounded far below this)
        return F.when(
            c >= F.lit(65536),
            F.raise_error(F.lit("image_meta fixture: dim exceeds uint16")),
        )

    def le16(c):
        return _u16_guard(c).otherwise(
            F.concat(
                F.lpad(F.hex(c % 256), 2, "0"),
                F.lpad(F.hex((c / 256).cast("long")), 2, "0"),
            )
        )

    def be16(c):
        return _u16_guard(c).otherwise(F.lpad(F.hex(c), 4, "0"))

    png = F.concat(
        F.lit("89504E470D0A1A0A"),  # magic
        F.lit("0000000D49484452"),  # IHDR length + type
        be8(w), be8(h),
        F.lit("0800000000"),        # bit depth / color / crc filler
    )
    gif = F.concat(F.lit("474946383961"), le16(w), le16(h), F.lit("000000"))
    com_pad = (F.col("doc_id") % 7).cast("int")  # COM payload bytes: 0..6
    jpg = F.concat(
        F.lit("FFD8"),                            # SOI
        F.lit("FFE000104A4649460001010000010001" + "0000"),  # APP0 JFIF
        F.lit("FFFE"), be16(com_pad + 2),          # COM, variable length
        F.repeat(F.lit("41"), com_pad),            # 'A' * (doc_id % 7)
        F.when(F.col("doc_id") % 5 == 0, F.lit("FF")).otherwise(F.lit("")),
        F.lit("FFC0001108"), be16(h), be16(w),     # SOF0: Y (height) first
        F.lit("03012200021101031101"),             # 3 component specs
    )
    def le24(c):
        # 24-bit LE of a value KNOWN < 2^24 (dims are u16-guarded above)
        return F.concat(
            F.lpad(F.hex(c % 256), 2, "0"),
            F.lpad(F.hex((c / 256).cast("long") % 256), 2, "0"),
            F.lpad(F.hex((c / 65536).cast("long") % 256), 2, "0"),
        )

    webp = F.concat(
        F.lit("52494646"), F.lit("16000000"), F.lit("57454250"),  # RIFF/WEBP
        F.lit("56503858"), F.lit("0A000000"),   # VP8X, size 10
        F.lit("00"), F.lit("000000"),           # flags + reserved
        le24(_u16_guard(w).otherwise(w - 1)),   # canvas width - 1
        le24(_u16_guard(h).otherwise(h - 1)),   # canvas height - 1
    )
    # TIFF, both byte orders (doc_id % 6 ∈ {4, 5}): header, a doc-varying
    # run of 0..4 filler bytes so the u32 IFD-OFFSET read (not a fixed
    # projection) is what the oracle gates, then one 3-entry IFD with
    # the tags ascending (256 SHORT width, 257 LONG height, 259 SHORT
    # compression) — width exercises the type-3 left-justified u16 read,
    # height the type-4 u32 read, 259 proves the scan doesn't stop at
    # the first hit it doesn't need
    pad = (F.col("doc_id") % 5).cast("int")
    ifd_off = (pad + 8).cast("long")
    tiff_le = F.concat(
        F.lit("49492A00"),
        le16(ifd_off), F.lit("0000"),           # u32 LE offset (< 256)
        F.repeat(F.lit("00"), pad),
        F.lit("0300"),                          # 3 entries, u16 LE
        F.lit("00010300"), F.lit("01000000"), le16(w), F.lit("0000"),
        F.lit("01010400"), F.lit("01000000"), le16(h), F.lit("0000"),
        F.lit("03010300"), F.lit("01000000"), F.lit("01000000"),
        F.lit("00000000"),                      # no next IFD
    )
    tiff_be = F.concat(
        F.lit("4D4D002A"),
        F.lit("0000"), be16(ifd_off),           # u32 BE offset
        F.repeat(F.lit("00"), pad),
        F.lit("0003"),
        F.lit("01000003"), F.lit("00000001"), be16(w), F.lit("0000"),
        F.lit("01010004"), F.lit("00000001"), be8(h),
        F.lit("01030003"), F.lit("00000001"), F.lit("00010000"),
        F.lit("00000000"),
    )
    payload = F.unhex(
        F.when(F.col("doc_id") % 6 == 0, png)
        .when(F.col("doc_id") % 6 == 1, gif)
        .when(F.col("doc_id") % 6 == 2, jpg)
        .when(F.col("doc_id") % 6 == 3, webp)
        .when(F.col("doc_id") % 6 == 4, tiff_le)
        .otherwise(tiff_be)
    )
    assets = docs.select("doc_id", payload.alias("payload"))
    return image_meta(assets).select(
        "doc_id", "img_format", "img_width", "img_height"
    )


# ---------------------------------------------------------------------------
# Header-only AUDIO metadata under the value gate
# (operators/multimodal.py::audio_meta, new round 10 — the audio sibling
#  of the image_meta pre-decode scan: the WAV chunk walk as one pure-JVM
#  bounded fold)
# ---------------------------------------------------------------------------

_SQL_AUDIO_META = """
    WITH d AS (
      SELECT doc_id,
             doc_id % 2 + 1 AS ch,
             CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  WHEN 2 THEN 22050 ELSE 44100 END AS rate,
             CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
             n_chars * 4 AS data_bytes,
             n_chars * 8 AS fl_total
      FROM documents WHERE n_chars IS NOT NULL
    )
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'flac'
                WHEN doc_id % 7 = 3 THEN 'aac' ELSE 'wav' END AS audio_format,
           CAST(ch AS BIGINT) AS n_channels,
           CAST(rate AS BIGINT) AS sample_rate,
           CASE WHEN doc_id % 7 = 0 THEN CAST(16 AS BIGINT)
                WHEN doc_id % 7 = 3 THEN NULL
                ELSE CAST(bits AS BIGINT) END AS bits_per_sample,
           CASE WHEN doc_id % 7 IN (0, 3) THEN NULL
                ELSE CAST(data_bytes AS BIGINT) END AS data_bytes,
           CASE WHEN doc_id % 7 = 0
                THEN CAST(fl_total * 1000 // rate AS BIGINT)
                WHEN doc_id % 7 = 3 THEN NULL
                ELSE CAST(data_bytes * 8000 // (rate * ch * bits) AS BIGINT)
                END AS duration_ms
    FROM d
"""


@q("multimodal_audio_meta", _SQL_AUDIO_META)
def multimodal_audio_meta(spark, sf_dir):
    """The zero-decode AUDIO metadata scan under the driver value gate
    (the ``multimodal_image_meta`` idiom, next modality): real RIFF/WAVE
    header BYTES are synthesized in-engine per document — a
    variable-length LIST chunk of ``doc_id % 5`` bytes (odd sizes
    carrying their spec pad byte) sits BEFORE the fmt chunk so the
    bounded chunk walk, not a fixed projection, is what the oracle
    gates; channels/rate/bits/data-size derive from the source columns;
    every seventh doc is a FLAC payload with a REAL bit-packed
    STREAMINFO block (rate 20 bits / channels 3 / bps 5 / total samples
    36 packed into one big-endian u64 — so the shift/mask unpack
    arithmetic is value-gated too; FLAC carries no raw byte count, so
    ``data_bytes`` is NULL and duration derives from total samples).
    ``audio_meta`` parses them back in one codegen projection — no
    Python, no decode — and the oracle states the expected fields,
    including the exact floor-integer ``duration_ms``, from the source
    columns directly."""
    from pdtable_spark.operators.multimodal import audio_meta

    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())

    def le_hex(c, n):
        # n-byte little-endian hex of a non-negative long column; a value
        # past 256^n must fail the FIXTURE loudly — per-byte %256 would
        # silently WRAP the high bytes into a confusing oracle mismatch
        # (the image fixture's u16-guard convention)
        return F.when(
            c >= F.lit(256 ** n),
            F.raise_error(F.lit(f"audio_meta fixture: value exceeds u{8 * n}")),
        ).otherwise(
            F.concat(
                *[
                    F.lpad(
                        F.hex((c / F.lit(256 ** i)).cast("long") % 256), 2, "0"
                    )
                    for i in range(n)
                ]
            )
        )

    ch = (F.col("doc_id") % 2 + 1).cast("long")
    rate = F.element_at(
        F.array(F.lit(8000), F.lit(16000), F.lit(22050), F.lit(44100)),
        (F.col("doc_id") % 4 + 1).cast("int"),
    ).cast("long")
    bits = F.when(F.col("doc_id") % 3 == 0, F.lit(8)).otherwise(F.lit(16)).cast("long")
    data_bytes = (F.col("n_chars") * 4).cast("long")
    k = (F.col("doc_id") % 5).cast("int")  # LIST payload bytes: 0..4
    list_chunk = F.concat(
        F.lit("4C495354"),                    # 'LIST'
        le_hex(k.cast("long"), 4),
        F.repeat(F.lit("41"), k),             # 'A' * k
        F.when(k % 2 == 1, F.lit("00")).otherwise(F.lit("")),  # spec pad
    )
    fmt_chunk = F.concat(
        F.lit("666D7420"), le_hex(F.lit(16).cast("long"), 4),  # 'fmt ', 16
        le_hex(F.lit(1).cast("long"), 2),      # PCM
        le_hex(ch, 2), le_hex(rate, 4),
        le_hex(rate * ch * bits / F.lit(8), 4),  # byte rate (unread)
        le_hex(ch * bits / F.lit(8), 2),         # block align (unread)
        le_hex(bits, 2),
    )
    wav = F.concat(
        F.lit("52494646"), F.lit("00000000"), F.lit("57415645"),  # RIFF/WAVE
        list_chunk, fmt_chunk,
        F.lit("64617461"), le_hex(data_bytes, 4),  # 'data' + size field
    )
    # FLAC: 'fLaC' + STREAMINFO header (type 0, 24-bit length 34) + the
    # 34-byte block — block/frame sizes, the packed u64, 16-byte md5.
    # total_samples = n_chars * 8; bps fixed 16 (bps-1 = 15 -> 0xF)
    fl_total = (F.col("n_chars") * 8).cast("long")
    packed = (
        rate * F.lit(1 << 44)
        + (ch - 1) * F.lit(1 << 41)
        + F.lit(15 * (1 << 36))
        + fl_total
    )
    flac = F.concat(
        F.lit("664C6143"), F.lit("00"), F.lit("000022"),
        F.lit("10001000"), F.repeat(F.lit("00"), 6),
        F.lpad(F.hex(packed), 16, "0"),
        F.repeat(F.lit("00"), 16),
    )
    # ADTS AAC (doc_id % 7 == 3): first frame header with the layer-00
    # sync, the sampling-frequency INDEX for the same rate table the
    # oracle states, and the channel config split across bytes 3/4 —
    # rate/channels resolve, bits/data/duration are decode-path NULLs
    sfi = F.element_at(
        F.array(F.lit(11), F.lit(8), F.lit(7), F.lit(4)),
        (F.col("doc_id") % 4 + 1).cast("int"),
    ).cast("long")
    aac = F.concat(
        F.lit("FFF1"),
        F.lpad(F.hex(F.lit(0x40) + sfi * 4), 2, "0"),
        F.lpad(F.hex(ch * 64), 2, "0"),
        F.lit("001FFC"),
    )
    payload = F.unhex(
        F.when(F.col("doc_id") % 7 == 0, flac)
        .when(F.col("doc_id") % 7 == 3, aac)
        .otherwise(wav)
    )
    assets = docs.select("doc_id", payload.alias("payload"))
    return audio_meta(assets).select(
        "doc_id", "audio_format", "n_channels", "sample_rate",
        "bits_per_sample", "data_bytes", "duration_ms",
    )


# ---------------------------------------------------------------------------
# Header-only VIDEO metadata under the value gate
# (operators/multimodal.py::video_meta, new round 10 — completes the
#  image/audio/video pre-decode scan trio)
# ---------------------------------------------------------------------------

_SQL_VIDEO_META = """
    WITH d AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 16667 WHEN 1 THEN 33333
                  WHEN 2 THEN 40000 ELSE 200000 END AS uspf,
             n_chars AS frames,
             n_chars * 2 AS w,
             doc_id % 2048 + 1 AS h,
             n_chars * 100 AS mp4_dur
      FROM documents WHERE n_chars IS NOT NULL
    )
    SELECT doc_id,
           CASE WHEN doc_id % 9 = 0 THEN 'mp4'
                WHEN doc_id % 9 = 4 THEN 'webm' ELSE 'avi' END AS video_format,
           CASE WHEN doc_id % 9 = 0 THEN NULL
                ELSE CAST(w AS BIGINT) END AS vid_width,
           CASE WHEN doc_id % 9 = 0 THEN NULL
                ELSE CAST(h AS BIGINT) END AS vid_height,
           CASE WHEN doc_id % 9 IN (0, 4) THEN NULL
                ELSE CAST(frames AS BIGINT) END AS n_frames,
           CASE WHEN doc_id % 9 IN (0, 4) THEN NULL
                ELSE CAST(uspf AS BIGINT) END AS us_per_frame,
           CASE WHEN doc_id % 9 = 0
                THEN CAST(mp4_dur * 1000 // ts AS BIGINT)
                WHEN doc_id % 9 = 4 THEN NULL
                ELSE CAST(uspf * frames // 1000 AS BIGINT) END AS duration_ms
    FROM (SELECT *, CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                         ELSE 90000 END AS ts FROM d)
"""


@q("multimodal_video_meta", _SQL_VIDEO_META)
def multimodal_video_meta(spark, sf_dir):
    """The zero-decode VIDEO metadata scan under the driver value gate,
    completing the modality trio next to ``multimodal_image_meta`` and
    ``multimodal_audio_meta``: real RIFF/AVI header BYTES are
    synthesized in-engine per document — a variable-length JUNK chunk
    of ``doc_id % 6`` bytes (odd sizes carrying their pad) sits before
    the ``LIST hdrl`` so the chunk hop, not a fixed projection, is what
    the oracle gates; per-frame microseconds / frame count / dims
    derive from the source columns; every ninth doc is a FASTSTART MP4
    — ftyp, then a variable-length ``free`` box, then ``moov``/``mvhd``
    with a real timescale/duration pair, so the ISO-BMFF box walk is
    value-gated too (dims/frames stay NULL: ``tkhd`` is per-track, the
    decode path's job); every doc_id % 9 == 4 is a WebM whose EBML
    master chain — behind a doc-varying Void pad and an
    unknown-size-Segment arm on even docs — serves 4-byte PixelWidth/
    PixelHeight through the vint walk.  ``video_meta`` parses them back
    in one codegen projection, and the oracle states every field
    including the exact floor-integer ``duration_ms`` for all three
    container families."""
    from pdtable_spark.operators.multimodal import video_meta

    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())

    def le_hex(c, n):
        # loud u8n bound — per-byte %256 would silently wrap
        return F.when(
            c >= F.lit(256 ** n),
            F.raise_error(F.lit(f"video_meta fixture: value exceeds u{8 * n}")),
        ).otherwise(
            F.concat(
                *[
                    F.lpad(
                        F.hex((c / F.lit(256 ** i)).cast("long") % 256), 2, "0"
                    )
                    for i in range(n)
                ]
            )
        )

    uspf = F.element_at(
        F.array(F.lit(16667), F.lit(33333), F.lit(40000), F.lit(200000)),
        (F.col("doc_id") % 4 + 1).cast("int"),
    ).cast("long")
    frames = F.col("n_chars").cast("long")
    w, h = (F.col("n_chars") * 2).cast("long"), (F.col("doc_id") % 2048 + 1).cast("long")
    k = (F.col("doc_id") % 6).cast("int")
    junk = F.concat(
        F.lit("4A554E4B"), le_hex(k.cast("long"), 4),
        F.repeat(F.lit("00"), k),
        F.when(k % 2 == 1, F.lit("00")).otherwise(F.lit("")),
    )
    zeros4 = F.lit("00000000")
    avih_data = F.concat(
        le_hex(uspf, 4), zeros4, zeros4, zeros4,        # uspf, maxbps, pad, flags
        le_hex(frames, 4), zeros4,                       # total frames, initial
        le_hex(F.lit(1).cast("long"), 4), zeros4,        # streams, sugg. buffer
        le_hex(w, 4), le_hex(h, 4),                      # width, height
        F.repeat(F.lit("00"), 16),                       # dwReserved[4]
    )
    avi = F.concat(
        F.lit("52494646"), F.lit("00000000"), F.lit("41564920"),  # RIFF/AVI
        junk,
        F.lit("4C495354"), le_hex(F.lit(68).cast("long"), 4),     # LIST, size
        F.lit("6864726C"),                                        # 'hdrl'
        F.lit("61766968"), le_hex(F.lit(56).cast("long"), 4),     # 'avih', 56
        avih_data,
    )
    def be_hex(c, n):
        # loud u8n bound — lpad TRUNCATES an over-long hex string, which
        # would silently corrupt the box's high bytes
        return F.when(
            c >= F.lit(256 ** n),
            F.raise_error(F.lit(f"video_meta fixture: value exceeds u{8 * n}")),
        ).otherwise(F.lpad(F.hex(c), 2 * n, "0"))

    ts = F.element_at(
        F.array(F.lit(600), F.lit(1000), F.lit(90000)),
        (F.col("doc_id") % 3 + 1).cast("int"),
    ).cast("long")
    mp4_dur = (F.col("n_chars") * 100).cast("long")
    mvhd = F.concat(
        be_hex(F.lit(108).cast("long"), 4), F.lit("6D766864"),  # size, 'mvhd'
        F.lit("00000000"),                                       # v0 + flags
        F.lit("00000000"), F.lit("00000000"),                    # ctime, mtime
        be_hex(ts, 4), be_hex(mp4_dur, 4),
        F.repeat(F.lit("00"), 80),                               # rate..matrix
    )
    mp4 = F.concat(
        F.lit("00000010"), F.lit("66747970"), F.lit("69736F6D"),
        F.lit("00000000"),                                       # ftyp box
        be_hex((k + 8).cast("long"), 4), F.lit("66726565"),      # 'free' + pad
        F.repeat(F.lit("00"), k),
        be_hex(F.lit(116).cast("long"), 4), F.lit("6D6F6F76"),   # 'moov'
        mvhd,
    )
    # WebM (doc_id % 9 == 4): EBML header, then a Segment whose size is
    # UNKNOWN (0xFF) on every other doc — the streamed-file spelling the
    # walk must descend through — then a doc-varying Void pad (so the
    # element offsets, not a fixed projection, are what the oracle
    # gates), an Info the walk SKIPS whole, and the Tracks → TrackEntry
    # → Video → PixelWidth/Height master chain with 4-byte uint dims
    k2 = (F.col("doc_id") % 5).cast("long")
    webm = F.concat(
        F.lit("1A45DFA3" + "87" + "4282" + "84" + "7765626D"),  # header
        F.lit("18538067"),                                       # Segment
        F.when(F.col("doc_id") % 2 == 0, F.lit("FF")).otherwise(
            F.lpad(F.hex(k2 + 42 + 128), 2, "0")
        ),
        F.lit("EC"), F.lpad(F.hex(k2 + 128), 2, "0"),            # Void pad
        F.repeat(F.lit("00"), k2.cast("int")),
        F.lit("1549A966" + "87" + "2AD7B1" + "83" + "0F4240"),   # Info (skip)
        F.lit("1654AE6B" + "97"),                                # Tracks
        F.lit("AE" + "95"),                                      # TrackEntry
        F.lit("86" + "85" + "565F565039"),                       # CodecID V_VP9
        F.lit("E0" + "8C"),                                      # Video
        F.lit("B0" + "84"), be_hex(w, 4),
        F.lit("BA" + "84"), be_hex(h, 4),
    )
    payload = F.unhex(
        F.when(F.col("doc_id") % 9 == 0, mp4)
        .when(F.col("doc_id") % 9 == 4, webm)
        .otherwise(avi)
    )
    assets = docs.select("doc_id", payload.alias("payload"))
    return video_meta(assets).select(
        "doc_id", "video_format", "vid_width", "vid_height",
        "n_frames", "us_per_frame", "duration_ms",
    )

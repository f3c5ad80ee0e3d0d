"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the *decode* kernel is a
clearly-marked deterministic fake (`fake_decode_meta`) — but everything
Spark-side is real and scale-shaped: binary columns, metadata structs, and
`mapInPandas` feature extraction over Arrow batches (the exact architecture
a real decoder would slot into: replace the fake with PIL/ffmpeg and the
plan, schema, partitioning and batch shapes are unchanged).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auron_spark.functions.pytask import python_task
from auron_spark.registry import query
from auron_spark.tables import Tables


def fake_decode_meta(payload: bytes) -> tuple[int, int, str]:
    """STUB decoder: derives (width, height, codec) deterministically from the
    payload bytes.  A real build replaces this with an image/audio library;
    raise NotImplementedError for codecs we do not fake."""
    n = len(payload)
    width = 64 + (n % 577)
    height = 64 + ((n * 7) % 449)
    codec = ("png", "jpeg", "webp")[n % 3]
    return width, height, codec


@query(
    "mm_binary_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           upper(substring(hex(encode(text)), 1, 8)) AS magic,
           octet_length(encode(text)) > 256 AS is_large
    FROM documents
    ORDER BY doc_id
    """,
    tags=("pipeline", "multimodal", "binary"),
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column (utf-8 encoded text stands in for media bytes)
    with metadata projections — octet length, magic-bytes prefix.  All
    JVM-side built-ins."""
    t = Tables(spark, sf_dir)
    payload = F.encode(F.col("text"), "utf-8")
    return t.documents.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.hex(F.substring(payload, 1, 4)).alias("magic"),
        (F.octet_length(payload) > 256).alias("is_large"),
    ).orderBy("doc_id")


@query(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           64 + (octet_length(encode(text)) % 577) AS width,
           64 + ((octet_length(encode(text)) * 7) % 449) AS height,
           CASE octet_length(encode(text)) % 3
             WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS codec,
           CAST(64 + (octet_length(encode(text)) % 577) AS BIGINT)
             * (64 + ((octet_length(encode(text)) * 7) % 449)) AS n_pixels
    FROM documents
    ORDER BY doc_id
    """,
    tags=("pipeline", "multimodal", "decode", "mapInPandas"),
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInPandas` decode/feature-extract over Arrow batches.  The fake
    decode is SQL-mirrorable, so the Python plumbing (schema, batch iteration,
    column assembly) gets a full oracle check — the part a real codec swap
    would keep."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [fake_decode_meta(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "codec": [m[2] for m in metas],
                }
            )
            out["n_pixels"] = (out["width"].astype("int64") * out["height"]).astype("int64")
            yield out

    t = Tables(spark, sf_dir)
    payloads = t.documents.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return (
        payloads.mapInPandas(
            python_task(decode_batches),
            "doc_id long, width int, height int, codec string, n_pixels long",
        )
        .orderBy("doc_id")
    )


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id, unnest(range(0, n_frames)) AS frame_idx,
           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(unnest(range(0, n_frames)) AS VARCHAR))
             AS frame_key
    FROM (
        SELECT doc_id, 1 + (octet_length(encode(text)) % 4) AS n_frames
        FROM documents
        WHERE doc_id % 10 = 0
    )
    ORDER BY doc_id, frame_idx
    """,
    tags=("pipeline", "multimodal", "frame-sample"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video-like payloads: derive a per-asset frame count,
    explode one row per sampled frame with a stable frame key.  The explode is
    the real operator; frame *content* decode stays behind the stub."""
    t = Tables(spark, sf_dir)
    base = t.documents.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        (1 + (F.octet_length(F.encode(F.col("text"), "utf-8")) % 4)).alias("n_frames"),
    )
    return (
        base.select(
            "doc_id", F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx")
        )
        .select(
            "doc_id",
            "frame_idx",
            F.md5(
                F.concat_ws(":", F.col("doc_id").cast("string"), F.col("frame_idx").cast("string"))
            ).alias("frame_key"),
        )
        .orderBy("doc_id", "frame_idx")
    )


@query(
    "mm_resize_plan",
    oracle="""
    SELECT doc_id, width, height,
           CAST(FLOOR(width * s) AS INTEGER) AS out_w,
           CAST(FLOOR(height * s) AS INTEGER) AS out_h
    FROM (
        SELECT doc_id, width, height,
               LEAST(224.0 / width, 224.0 / height, 1.0) AS s
        FROM (
            SELECT doc_id,
                   64 + (octet_length(encode(text)) % 577) AS width,
                   64 + ((octet_length(encode(text)) * 7) % 449) AS height
            FROM documents
        )
    )
    ORDER BY doc_id
    """,
    tags=("pipeline", "multimodal", "resize", "mapInPandas"),
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize to fit 224×224 (no upscaling), planned in
    `mapInPandas` over Arrow batches.  The geometry math is SQL-mirrorable so
    the full Python path is oracle-checked; the pixel resample itself is the
    stubbed step (`NotImplementedError` — container has no image libs), and a
    real build swaps it in without touching plan/schema/batching."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [fake_decode_meta(p) for p in pdf["payload"]]
            w = pd.Series([m[0] for m in metas], dtype="int64")
            h = pd.Series([m[1] for m in metas], dtype="int64")
            s = pd.concat([224.0 / w, 224.0 / h], axis=1).min(axis=1).clip(upper=1.0)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "out_w": (w * s).apply(int).astype("int32"),  # floor: positive values
                    "out_h": (h * s).apply(int).astype("int32"),
                }
            )
            yield out

    def resample_pixels(payload: bytes, out_w: int, out_h: int) -> bytes:
        raise NotImplementedError("pixel resample needs an image codec (PIL)")

    t = Tables(spark, sf_dir)
    payloads = t.documents.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return payloads.mapInPandas(
        python_task(resize_batches),
        "doc_id long, width int, height int, out_w int, out_h int",
    ).orderBy("doc_id")


# --- REAL codec path: P6 PPM (decodable with numpy alone, no image libs) ---

PPM_W = 8
PPM_H = 8


def encode_ppm(doc_id: int) -> bytes:
    """Deterministic 8×8 P6 PPM image for doc_id: pixel (x, y) has
    R=(7x+doc)%256, G=(11y+3·doc)%256, B=(x+y)%256.  Real, spec-compliant
    PPM bytes — any image tool can open them."""
    header = f"P6\n{PPM_W} {PPM_H}\n255\n".encode()
    px = bytearray()
    for y in range(PPM_H):
        for x in range(PPM_W):
            px += bytes(
                ((7 * x + doc_id) % 256, (11 * y + 3 * doc_id) % 256, (x + y) % 256)
            )
    return header + bytes(px)


def decode_ppm_features(payload: bytes) -> tuple[int, int, float, float, float]:
    """REAL decoder: parse the P6 header, reinterpret the raster with numpy,
    return (width, height, mean_r, mean_g, mean_b)."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts = payload.split(b"\n", 3)
    w, h = (int(v) for v in parts[1].split())
    raster = np.frombuffer(parts[3], dtype=np.uint8)[: w * h * 3].reshape(h, w, 3)
    means = raster.mean(axis=(0, 1))
    return w, h, float(means[0]), float(means[1]), float(means[2])


@query(
    "mm_ppm_decode_real",
    oracle=f"""
    WITH px AS (
        SELECT d.doc_id, x.x, y.y
        FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
             range(0, {PPM_W}) x(x), range(0, {PPM_H}) y(y)
    )
    SELECT doc_id,
           {PPM_W} AS width, {PPM_H} AS height,
           ROUND(AVG((7 * x + doc_id) % 256), 6) AS mean_r,
           ROUND(AVG((11 * y + 3 * doc_id) % 256), 6) AS mean_g,
           ROUND(AVG((x + y) % 256), 6) AS mean_b
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("pipeline", "multimodal", "decode", "real-codec"),
    bench=True,  # tracks the Python/Arrow boundary cost round-over-round
)
def mm_ppm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL image decode end-to-end — no stub: spec-compliant P6 PPM bytes
    are built per row (pandas UDF), travel through the binary column ↔ Arrow
    boundary, and a second mapInPandas stage parses the header and
    reinterprets the raster with numpy to emit per-channel mean features.
    The oracle computes the same means in closed form from the pixel
    formula, so the ENTIRE decode path (header parse, stride math, channel
    order) is hash-verified — a wrong reshape or BGR/RGB swap fails the
    driver row.  PNG/JPEG/audio stay gated on their libraries
    (`fake_decode_meta`); this proves the architecture with the one codec
    numpy alone can handle.

    100 TB: identical plan to the stub path — binary payloads stream through
    Arrow batches partition-locally, features are map-side, no shuffle
    before the final demo sort."""
    @F.pandas_udf("binary")
    def make_ppm(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode_ppm(int(i)))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(decode_ppm_features)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": feats.map(lambda t: t[0]),
                    "height": feats.map(lambda t: t[1]),
                    "mean_r": feats.map(lambda t: round(t[2], 6)),
                    "mean_g": feats.map(lambda t: round(t[3], 6)),
                    "mean_b": feats.map(lambda t: round(t[4], 6)),
                }
            )

    t = Tables(spark, sf_dir)
    with_payload = (
        t.documents.where(F.col("doc_id") < 200)
        .select("doc_id", make_ppm("doc_id").alias("payload"))
    )
    return (
        with_payload.mapInPandas(
            python_task(extract),
            "doc_id long, width long, height long, "
            "mean_r double, mean_g double, mean_b double",
        )
        .orderBy("doc_id")
    )


# --- REAL audio path: PCM WAV (decodable with the stdlib wave module) ---

WAV_RATE = 8000
WAV_N = 64  # samples per clip


def encode_wav(doc_id: int) -> bytes:
    """Deterministic 16-bit mono PCM WAV: sample k = ((doc_id*13 + k*37) %
    2001) - 1000 — integer-valued, so both engines compute features
    exactly.  Spec-compliant RIFF/WAVE bytes."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        frames = b"".join(
            struct.pack("<h", ((doc_id * 13 + k * 37) % 2001) - 1000)
            for k in range(WAV_N)
        )
        w.writeframes(frames)
    return buf.getvalue()


def decode_wav_features(payload: bytes) -> tuple[int, int, int, int]:
    """REAL decoder: parse RIFF header via the wave module, reinterpret PCM
    with numpy, return (n_samples, rate, sum_abs, peak)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        pcm = np.frombuffer(w.readframes(n), dtype="<i2")
    return n, rate, int(np.abs(pcm.astype(np.int64)).sum()), int(np.abs(pcm).max())


@query(
    "mm_wav_decode_real",
    oracle=f"""
    WITH samp AS (
        SELECT d.doc_id, ((d.doc_id * 13 + k.k * 37) % 2001) - 1000 AS s
        FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
             range(0, {WAV_N}) k(k)
    )
    SELECT doc_id,
           {WAV_N} AS n_samples, {WAV_RATE} AS rate,
           CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak
    FROM samp
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("pipeline", "multimodal", "audio", "real-codec"),
)
def mm_wav_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end — the WAV twin of mm_ppm_decode_real:
    spec-compliant 16-bit PCM RIFF bytes built per row, decoded in
    mapInPandas with the stdlib wave module + numpy (header parse,
    little-endian PCM reinterpret) into integer loudness features.  Samples
    are integer-valued by construction, so the closed-form oracle is exact —
    an endianness or sample-width mistake fails the driver row.  Same
    map-side Arrow-batch plan shape as every multimodal operator."""
    @F.pandas_udf("binary")
    def make_wav(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode_wav(int(i)))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(decode_wav_features)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": feats.map(lambda t: t[0]),
                    "rate": feats.map(lambda t: t[1]),
                    "sum_abs": feats.map(lambda t: t[2]),
                    "peak": feats.map(lambda t: t[3]),
                }
            )

    t = Tables(spark, sf_dir)
    with_payload = (
        t.documents.where(F.col("doc_id") < 200)
        .select("doc_id", make_wav("doc_id").alias("payload"))
    )
    return (
        with_payload.mapInPandas(
            python_task(extract),
            "doc_id long, n_samples long, rate long, sum_abs long, peak long",
        )
        .orderBy("doc_id")
    )


# --- REAL video path: multi-frame container of PPM frames ---

VID_FRAMES = 6
FRAME_STEP = 3  # sample every 3rd frame


def encode_video(doc_id: int) -> bytes:
    """Deterministic 'video': VID_FRAMES concatenated PPM frames prefixed by
    a 4-byte big-endian frame count.  Frame f uses the pixel formula of
    encode_ppm(doc_id * 16 + f), so every frame differs."""
    frames = [encode_ppm(doc_id * 16 + f) for f in range(VID_FRAMES)]
    return VID_FRAMES.to_bytes(4, "big") + b"".join(frames)


def sample_video_frames(payload: bytes) -> list[tuple[int, float]]:
    """REAL frame sampler: parse the container, decode every FRAME_STEP-th
    frame with the PPM decoder, return (frame_idx, mean_r) pairs."""
    n = int.from_bytes(payload[:4], "big")
    body = payload[4:]
    frame_len = len(body) // n
    out = []
    for f in range(0, n, FRAME_STEP):
        frame = body[f * frame_len : (f + 1) * frame_len]
        _, _, mean_r, _, _ = decode_ppm_features(frame)
        out.append((f, round(mean_r, 6)))
    return out


@query(
    "mm_video_frame_sample_real",
    oracle=f"""
    WITH fr AS (
        SELECT d.doc_id, f.f
        FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d,
             range(0, {VID_FRAMES}) f(f)
        WHERE f.f % {FRAME_STEP} = 0
    ),
    px AS (
        SELECT doc_id, f, x.x
        FROM fr, range(0, {PPM_W}) x(x)
    )
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           ROUND(AVG((7 * x + doc_id * 16 + f) % 256), 6) AS mean_r
    FROM px
    GROUP BY doc_id, f
    ORDER BY doc_id, frame_idx
    """,
    tags=("pipeline", "multimodal", "video", "real-codec"),
)
def mm_video_frame_sample_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling — completes the image/audio/video trilogy:
    a multi-frame container (frame-count header + concatenated spec-valid
    PPM frames) is built per row, and mapInPandas parses the container,
    seeks to every FRAME_STEP-th frame, and decodes ONLY the sampled frames
    (the decode-on-demand pattern that makes 100 TB video corpora tractable:
    I/O ∝ sampled frames, not stored frames).  One output row per sampled
    frame via the same explode-shaped mapInPandas; closed-form per-frame
    oracle (mean_r depends on the frame index) verifies container offsets
    and frame decode together."""
    @F.pandas_udf("binary")
    def make_video(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode_video(int(i)))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for f, mean_r in sample_video_frames(payload):
                    rows.append((doc_id, f, mean_r))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "mean_r"])

    t = Tables(spark, sf_dir)
    with_payload = (
        t.documents.where(F.col("doc_id") < 100)
        .select("doc_id", make_video("doc_id").alias("payload"))
    )
    return (
        with_payload.mapInPandas(
            python_task(extract), "doc_id long, frame_idx long, mean_r double"
        )
        .orderBy("doc_id", "frame_idx")
    )


@query(
    "mm_binary_dedup",
    oracle="""
    WITH b AS (
        SELECT doc_id, md5(text) AS h,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    )
    SELECT h, CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(SUM(n_bytes) AS BIGINT) AS bytes_total,
           CAST(SUM(n_bytes) - MIN(n_bytes) AS BIGINT) AS bytes_reclaimable
    FROM b GROUP BY h
    ORDER BY canonical_id
    """,
    tags=("pipeline", "multimodal", "dedup", "binary"),
)
def mm_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-level dedup manifest over a BINARY media column: digest each
    payload (the content-addressing step of every media lake), group to
    one manifest row per distinct asset with the canonical (lowest) id,
    copy count and reclaimable bytes — the number storage teams actually
    act on.  Spark hashes the binary payload; the oracle hashes the
    source text — identical digests because the payload IS the utf-8
    encoding (same contract as `dedup_exact`).

    Scale shape: one digest-keyed aggregation; 16-byte digests plus two
    longs cross the wire, never payload bytes — at 100 TB of media the
    shuffle is measured in gigabytes.  Byte sizes come map-side from
    octet_length before the exchange."""
    t = Tables(spark, sf_dir)
    payload = F.encode(F.col("text"), "utf-8")
    b = t.documents.select(
        "doc_id",
        F.md5(payload).alias("h"),
        F.octet_length(payload).alias("n_bytes"),
    )
    return (
        b.groupBy("h")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.count("*").cast("bigint").alias("n_copies"),
            F.sum("n_bytes").cast("bigint").alias("bytes_total"),
            (F.sum("n_bytes") - F.min("n_bytes")).cast("bigint").alias(
                "bytes_reclaimable"
            ),
        )
        .select(
            "h", "canonical_id", "n_copies", "bytes_total",
            "bytes_reclaimable",
        )
        .orderBy("canonical_id")
    )


# --- Perceptual near-dup: average-hash over REAL-decoded PPM rasters ------

AHASH_HAM_T = 6  # near-dup threshold (bits differing out of 64)
AHASH_DOCS = 200


def encode_template_ppm(doc_id: int) -> bytes:
    """Deterministic grayscale P6 PPM built from a TEMPLATE (doc_id % 16)
    plus small per-doc noise — so docs sharing a template are true
    perceptual near-duplicates and cross-template docs are not.  The pixel
    law is closed-form, which is what lets DuckDB replicate the whole
    perceptual pipeline exactly."""
    header = f"P6\n{PPM_W} {PPM_H}\n255\n".encode()
    t = doc_id % 16
    px = bytearray()
    for y in range(PPM_H):
        for x in range(PPM_W):
            g = (
                t * 37 + 3 * x * x + 5 * y * y + 7 * x * y
                + ((doc_id // 16) * (x + 2 * y)) % 7
            ) % 256
            px += bytes((g, g, g))
    return header + bytes(px)


def ahash_ppm(payload: bytes) -> tuple[int, int]:
    """REAL perceptual hasher: parse the P6 header, reinterpret the raster
    with numpy, threshold each gray pixel against the image mean (exactly:
    gray*64 > sum), pack the 64 bits as two 32-bit halves (k = y*8 + x)."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts = payload.split(b"\n", 3)
    w, h = (int(v) for v in parts[1].split())
    raster = np.frombuffer(parts[3], dtype=np.uint8)[: w * h * 3].reshape(h, w, 3)
    gray = raster[:, :, 0].astype(np.int64)  # R == G == B by construction
    s = int(gray.sum())
    bits = (gray * (w * h) > s).flatten()
    lo = sum(int(bits[k]) << k for k in range(32))
    hi = sum(int(bits[k]) << (k - 32) for k in range(32, 64))
    return lo, hi


def ahash_hash_frame(t) -> "DataFrame":
    """Decode+hash stage (Arrow-batched Python over deterministic PPM
    payloads) — factored pre-materialization so the plan gate can assert
    the MapInPandas shape; `mm_image_ahash_dedup` checkpoints it (the
    stored perceptual-hash index)."""
    @F.pandas_udf("binary")
    def make_img(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode_template_ppm(int(i)))

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = pdf["payload"].map(ahash_ppm)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "h_lo": hs.map(lambda t: t[0]),
                    "h_hi": hs.map(lambda t: t[1]),
                }
            )

    return (
        t.documents.where(F.col("doc_id") < AHASH_DOCS)
        .select("doc_id", make_img("doc_id").alias("payload"))
        .mapInPandas(python_task(hash_batch), "doc_id long, h_lo long, h_hi long")
    )


def ahash_pair_frame(hashes: "DataFrame") -> "DataFrame":
    """Banded candidate join + exact hamming verify — factored so the
    plan gate can assert the (band_idx, band_val) equi-join shape."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(col, shift).bitwiseAND(65535).alias("band_val"),
            )
            for i, (col, shift) in enumerate(
                [
                    (F.col("h_lo"), 0),
                    (F.col("h_lo"), 16),
                    (F.col("h_hi"), 0),
                    (F.col("h_hi"), 16),
                ]
            )
        ]
    )
    bands = hashes.select(
        "doc_id", "h_lo", "h_hi", F.explode(band_structs).alias("bd")
    ).select("doc_id", "h_lo", "h_hi", "bd.band_idx", "bd.band_val")
    l, r = bands.alias("l"), bands.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            (
                F.bit_count(F.col("l.h_lo").bitwiseXOR(F.col("r.h_lo")))
                + F.bit_count(F.col("l.h_hi").bitwiseXOR(F.col("r.h_hi")))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= AHASH_HAM_T)
    )


@query(
    "mm_image_ahash_dedup",
    oracle=f"""
    WITH px AS (
        SELECT d.doc_id, x.x, y.y,
               (d.doc_id % 16) * 37 + 3 * x.x * x.x + 5 * y.y * y.y
               + 7 * x.x * y.y
               + ((d.doc_id // 16) * (x.x + 2 * y.y)) % 7 AS raw
        FROM (SELECT doc_id FROM documents WHERE doc_id < {AHASH_DOCS}) d,
             range(0, {PPM_W}) x(x), range(0, {PPM_H}) y(y)
    ),
    g AS (SELECT doc_id, x, y, raw % 256 AS gray, y * {PPM_W} + x AS k FROM px),
    h AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN gray * 64 > s AND k < 32
                             THEN CAST(pow(2, k) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS h_lo,
               CAST(SUM(CASE WHEN gray * 64 > s AND k >= 32
                             THEN CAST(pow(2, k - 32) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS h_hi
        FROM (SELECT *, SUM(gray) OVER (PARTITION BY doc_id) AS s FROM g)
        GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, h_lo, h_hi, i.i AS band_idx,
               CASE i.i WHEN 0 THEN h_lo % 65536
                        WHEN 1 THEN h_lo // 65536
                        WHEN 2 THEN h_hi % 65536
                        ELSE h_hi // 65536 END AS band_val
        FROM h, range(0, 4) i(i)
    ),
    pairs AS (
        SELECT a, b, hamming FROM (
            SELECT l.doc_id AS a, r.doc_id AS b,
                   bit_count(xor(l.h_lo, r.h_lo))
                   + bit_count(xor(l.h_hi, r.h_hi)) AS hamming
            FROM bands l JOIN bands r
              ON l.band_idx = r.band_idx AND l.band_val = r.band_val
             AND l.doc_id < r.doc_id
            GROUP BY 1, 2, 3
        ) WHERE hamming <= {AHASH_HAM_T}
    )
    SELECT h.doc_id,
           CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near,
           COALESCE(n.has_smaller, FALSE) AS is_dup
    FROM h
    LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_near,
               BOOL_OR(other < doc_id) AS has_smaller
        FROM (
            SELECT a AS doc_id, b AS other FROM pairs
            UNION ALL
            SELECT b AS doc_id, a AS other FROM pairs
        )
        GROUP BY doc_id
    ) n ON n.doc_id = h.doc_id
    ORDER BY h.doc_id
    """,
    tags=("pipeline", "multimodal", "dedup", "perceptual", "real-codec"),
)
def mm_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (average-hash) image near-duplicate detection over REAL
    decoded rasters — the image-side analog of MinHash text dedup: P6 PPM
    bytes cross the Arrow boundary, a mapInPandas stage parses and hashes
    the raster with numpy (threshold each pixel against the image mean,
    pack 64 bits as two 32-bit halves), candidate pairs come from a
    4-band x 16-bit LSH equi-join on the hash, and survivors within
    hamming {AHASH_HAM_T} are rolled up per image (neighbor count +
    dedup flag).  The fixture encodes template+noise images, so
    same-template docs are genuine near-dups and the oracle — which
    recomputes the ENTIRE perceptual pipeline from the closed-form pixel
    law in SQL — hash-verifies decode, stride math, thresholding, bit
    packing, banding and the hamming filter end-to-end.

    Scale shape: decode + hash are partition-local Arrow batches (the
    plan a real pHash/CLIP-hash pipeline uses, with this hasher swapped
    for the library call); the pair search is the banded equi-join shared
    with SimHash/MinHash — linear in corpus, never all-pairs; the rollup
    input is pairs-sized.  Hamming <= 3 is guaranteed caught by 4-band
    pigeonhole; 4-6 rely on band luck (measured 94% at the fixtures) —
    the standard LSH recall trade, stated rather than hidden."""
    t = Tables(spark, sf_dir)
    # The decode+hash stage is the expensive (Python) pass and its output
    # IS the stored perceptual-hash index; the pair list feeds both sides
    # of the symmetric union — each materializes once (round-9
    # single-subtree sweep; un-checkpointed, the decode re-ran 4x).  The
    # builders stay factored so the plan gates assert their MapInPandas /
    # banded-equi-join shapes pre-materialization.
    hashes = ahash_hash_frame(t).localCheckpoint(eager=False)
    pairs = ahash_pair_frame(hashes).localCheckpoint(eager=False)
    neigh = (
        pairs.select(F.col("a").alias("doc_id"), F.col("b").alias("other"))
        .unionAll(
            pairs.select(F.col("b").alias("doc_id"), F.col("a").alias("other"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_near"),
            F.max(F.col("other") < F.col("doc_id")).alias("has_smaller"),
        )
    )
    return (
        hashes.join(neigh, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_near", F.lit(0)).cast("bigint").alias("n_near"),
            F.coalesce("has_smaller", F.lit(False)).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


# --- Audio activity segmentation over the REAL WAV decode path ------------

VAD_FRAME = 8  # samples per analysis frame (WAV_N / VAD_FRAME = 8 frames)


def wav_frame_energies(payload: bytes) -> list[int]:
    """REAL decode + framing: parse the RIFF header, reinterpret PCM,
    return integer energy (sum of squared samples) per VAD_FRAME-sample
    frame."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        pcm = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    e = pcm.astype(np.int64) ** 2
    return [int(e[i : i + VAD_FRAME].sum()) for i in range(0, len(e), VAD_FRAME)]


@query(
    "mm_wav_activity_segments",
    oracle=f"""
    WITH samp AS (
        SELECT d.doc_id, k.k // {VAD_FRAME} AS frame,
               CAST(((d.doc_id * 13 + k.k * 37) % 2001) - 1000 AS BIGINT) AS s
        FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
             range(0, {WAV_N}) k(k)
    ),
    fe AS (
        SELECT doc_id, frame, SUM(s * s) AS energy
        FROM samp GROUP BY doc_id, frame
    ),
    act AS (
        SELECT doc_id, frame, energy,
               SUM(energy) OVER (PARTITION BY doc_id) AS tot,
               COUNT(*) OVER (PARTITION BY doc_id) AS nf
        FROM fe
    ),
    active AS (
        SELECT doc_id, frame,
               frame - ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY frame) AS grp
        FROM act WHERE energy * nf > tot
    ),
    seg AS (
        SELECT doc_id, grp, COUNT(*) AS seg_len
        FROM active GROUP BY doc_id, grp
    )
    SELECT f.doc_id,
           CAST(COUNT(DISTINCT a.frame) AS BIGINT) AS n_active_frames,
           CAST(COUNT(DISTINCT s.grp) AS BIGINT) AS n_segments,
           CAST(COALESCE(MAX(s.seg_len), 0) AS BIGINT) AS longest_segment
    FROM (SELECT DISTINCT doc_id FROM fe) f
    LEFT JOIN active a ON a.doc_id = f.doc_id
    LEFT JOIN seg s ON s.doc_id = f.doc_id
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
    tags=("pipeline", "multimodal", "audio", "vad", "real-codec"),
)
def mm_wav_activity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio activity (VAD-style) segmentation over REAL decoded PCM — the
    speech-pipeline step between decode and transcription: frame the
    waveform ({VAD_FRAME}-sample frames), compute integer frame energies,
    mark frames louder than the clip mean (energy * n_frames > total —
    integer-exact, no division), and collapse consecutive active frames
    into segments via the gaps-and-islands trick, reporting per-clip
    activity counts and the longest segment.

    The decode+framing runs in mapInPandas over Arrow batches (wave +
    numpy, the slot a real VAD model plugs into), but emits the per-frame
    energy TABLE into the relational plan — unlike mm_wav_decode_real's
    scalar features, downstream segmentation is genuine DataFrame work
    the closed-form oracle replicates end-to-end.

    Scale shape: framing is partition-local (frames-per-clip rows out of
    the Arrow stage); the activity window + island rollup partition by
    doc_id — one exchange; a real pipeline with hour-long audio gets
    thousands of frames per clip and the identical plan."""
    @F.pandas_udf("binary")
    def make_wav(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode_wav(int(i)))

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i, e in enumerate(wav_frame_energies(payload)):
                    rows.append((did, i, e))
            yield pd.DataFrame(rows, columns=["doc_id", "frame", "energy"])

    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    fe = (
        t.documents.where(F.col("doc_id") < 200)
        .select("doc_id", make_wav("doc_id").alias("payload"))
        .mapInPandas(python_task(frames), "doc_id long, frame long, energy long")
    )
    wd = Window.partitionBy("doc_id")
    act = fe.select(
        "doc_id",
        "frame",
        "energy",
        F.sum("energy").over(wd).alias("tot"),
        F.count("*").over(wd).alias("nf"),
    )
    wf = Window.partitionBy("doc_id").orderBy("frame")
    active = act.where(
        F.col("energy") * F.col("nf") > F.col("tot")
    ).select(
        "doc_id",
        "frame",
        (F.col("frame") - F.row_number().over(wf)).alias("grp"),
    )
    seg = active.groupBy("doc_id", "grp").agg(F.count("*").alias("seg_len"))
    per_doc_active = active.groupBy("doc_id").agg(
        F.count("*").alias("n_active_frames")
    )
    per_doc_seg = seg.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.max("seg_len").alias("longest_segment"),
    )
    return (
        fe.select("doc_id")
        .distinct()
        .join(per_doc_active, "doc_id", "left")
        .join(per_doc_seg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_active_frames", F.lit(0))
            .cast("bigint")
            .alias("n_active_frames"),
            F.coalesce("n_segments", F.lit(0)).cast("bigint").alias(
                "n_segments"
            ),
            F.coalesce("longest_segment", F.lit(0)).cast("bigint").alias(
                "longest_segment"
            ),
        )
        .orderBy("doc_id")
    )


SHOT_JUMP_T = 2.0  # mean-luma jump (in 6-dp-rounded units) calling a cut


def video_frame_means(payload: bytes) -> list[tuple[int, float]]:
    """REAL decoder: parse the container and decode EVERY frame (unlike
    sample_video_frames' stride), returning (frame_idx, mean_r)."""
    n = int.from_bytes(payload[:4], "big")
    body = payload[4:]
    frame_len = len(body) // n
    out = []
    for f in range(n):
        frame = body[f * frame_len : (f + 1) * frame_len]
        _, _, mean_r, _, _ = decode_ppm_features(frame)
        out.append((f, round(mean_r, 6)))
    return out


@query(
    "mm_video_shot_detection",
    oracle=f"""
    WITH fm AS (
        SELECT d.doc_id, f.f,
               ROUND(AVG((7 * x.x + d.doc_id * 16 + f.f) % 256), 6) AS mean_r
        FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
             range(0, {VID_FRAMES}) f(f),
             range(0, {PPM_W}) x(x), range(0, {PPM_H}) y(y)
        GROUP BY d.doc_id, f.f
    ),
    diffs AS (
        SELECT doc_id, f, mean_r,
               abs(mean_r - lag(mean_r) OVER (PARTITION BY doc_id
                                              ORDER BY f)) AS jump
        FROM fm
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(*) FILTER (WHERE jump > {SHOT_JUMP_T}) AS BIGINT)
               AS n_cuts,
           CAST(COUNT(*) FILTER (WHERE jump > {SHOT_JUMP_T}) + 1 AS BIGINT)
               AS n_shots,
           ROUND(COALESCE(MAX(jump), 0.0), 6) AS max_jump
    FROM diffs
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("pipeline", "multimodal", "video", "shot-detection", "real-codec"),
)
def mm_video_shot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary (cut) detection over REAL decoded video frames — the
    video-curation step that splits footage into shots before sampling
    one keyframe per shot: decode EVERY frame's mean luma in mapInPandas
    (container parse + per-frame PPM decode), then flag frames whose
    luma jumps more than {SHOT_JUMP_T} from their predecessor (lag window
    per clip).  The fixture's frame formula wraps mod 256, so most
    consecutive frames drift by ~1 unit and wrap points produce genuine
    large jumps — real cuts by construction, and the closed-form oracle
    verifies the whole chain (container stride math, per-frame decode,
    the lag, the threshold).

    Scale shape: frame decode is partition-local Arrow batching with
    I/O linear in frames (a real build points this at ffmpeg keyframe
    stats); the lag window partitions by clip — one exchange; a
    keyframe-per-shot follow-up is a groupBy on the running cut count,
    the same island shape as mm_wav_activity_segments."""
    @F.pandas_udf("binary")
    def make_video(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode_video(int(i)))

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                for f, m in video_frame_means(payload):
                    rows.append((did, f, m))
            yield pd.DataFrame(rows, columns=["doc_id", "f", "mean_r"])

    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    fm = (
        t.documents.where(F.col("doc_id") < 200)
        .select("doc_id", make_video("doc_id").alias("payload"))
        .mapInPandas(python_task(frames), "doc_id long, f long, mean_r double")
    )
    w = Window.partitionBy("doc_id").orderBy("f")
    diffs = fm.select(
        "doc_id",
        "f",
        F.abs(F.col("mean_r") - F.lag("mean_r").over(w)).alias("jump"),
    )
    return (
        diffs.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_frames"),
            F.count(F.when(F.col("jump") > SHOT_JUMP_T, 1))
            .cast("bigint")
            .alias("n_cuts"),
            (F.count(F.when(F.col("jump") > SHOT_JUMP_T, 1)) + 1)
            .cast("bigint")
            .alias("n_shots"),
            F.round(F.coalesce(F.max("jump"), F.lit(0.0)), 6).alias(
                "max_jump"
            ),
        )
        .orderBy("doc_id")
    )


# --- Fused multimodal curation flagship -----------------------------------

from auron_spark.registry import REGISTRY as _REG


def _fused_mm_oracle() -> str:
    """Compose the three modality oracles verbatim as subqueries (DuckDB
    supports WITH inside a derived table), so the fused contract can
    never drift from the per-modality contracts."""
    img = _REG["mm_image_ahash_dedup"].oracle
    wav = _REG["mm_wav_activity_segments"].oracle
    vid = _REG["mm_video_shot_detection"].oracle
    return f"""
    SELECT a.doc_id, a.is_dup, w.n_active_frames, v.n_shots,
           ((NOT a.is_dup) AND w.n_active_frames >= 1 AND v.n_shots >= 2)
               AS keep
    FROM ({img}) a
    JOIN ({wav}) w ON w.doc_id = a.doc_id
    JOIN ({vid}) v ON v.doc_id = a.doc_id
    ORDER BY a.doc_id
    """


@query(
    "pipeline_multimodal_curation",
    oracle=_fused_mm_oracle(),
    tags=("pipeline", "multimodal", "fused", "curation"),
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused multimodal curation — the asset-level keep/drop decision a
    video-corpus pipeline makes per item, as ONE DataFrame plan spanning
    three Arrow decode stages: perceptual image dedup (drop near-dup
    thumbnails), audio activity (drop silent clips), and shot structure
    (drop static single-shot footage).  keep = not-a-dup AND has active
    audio AND at least two shots.

    This is the multimodal sibling of `pipeline_curation_end_to_end`:
    the point is COMPOSITION — three mapInPandas stages and an LSH band
    join fuse into one plan with per-modality reports joined on the
    asset key, and the oracle literally embeds the three per-modality
    oracles as subqueries, so the fused contract cannot drift from the
    parts.  Scale: each modality is partition-local Arrow work plus its
    own bounded exchange; the final joins are asset-keyed."""
    img = _REG["mm_image_ahash_dedup"].build(spark, sf_dir)
    wav = _REG["mm_wav_activity_segments"].build(spark, sf_dir)
    vid = _REG["mm_video_shot_detection"].build(spark, sf_dir)
    return (
        img.select("doc_id", "is_dup")
        .join(wav.select("doc_id", "n_active_frames"), "doc_id")
        .join(vid.select("doc_id", "n_shots"), "doc_id")
        .select(
            "doc_id",
            "is_dup",
            "n_active_frames",
            "n_shots",
            (
                (~F.col("is_dup"))
                & (F.col("n_active_frames") >= 1)
                & (F.col("n_shots") >= 2)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --- binaryFile source: real files on disk through Spark's binary reader ---

from pathlib import Path as _Path

from auron_spark.artifacts import artifact_dir as _artifact_dir

N_PPM_FILES = 50


def build_ppm_files(sf_dir: str) -> str:
    """Materialize N_PPM_FILES deterministic P6 PPM images as REAL files
    (committed artifact, like the IVF-PQ index): the fixture for Spark's
    built-in `binaryFile` source.  The bytes are `encode_ppm`'s — the same
    pixel law the closed-form oracle knows.  Idempotent + concurrency-safe
    via `artifacts.ensure_artifact` (temp dir + atomic rename)."""
    from auron_spark.artifacts import ensure_artifact

    def _build(into: str) -> None:
        for i in range(N_PPM_FILES):
            (_Path(into) / f"doc_{i:04d}.ppm").write_bytes(encode_ppm(i))

    return ensure_artifact(
        f"{_artifact_dir('mm', sf_dir)}/ppm", "_FILES_COMPLETE", _build
    )


@query(
    "mm_binaryfile_scan",
    oracle=f"""
    WITH px AS (
        SELECT d.doc_id, x.x, y.y
        FROM (SELECT unnest(range(0, {N_PPM_FILES})) AS doc_id) d,
             range(0, {PPM_W}) x(x), range(0, {PPM_H}) y(y)
    )
    SELECT doc_id,
           CAST({11 + PPM_W * PPM_H * 3} AS BIGINT) AS n_bytes,
           {PPM_W} AS width, {PPM_H} AS height,
           ROUND(AVG((7 * x + doc_id) % 256), 6) AS mean_r,
           ROUND(AVG((11 * y + 3 * doc_id) % 256), 6) AS mean_g,
           ROUND(AVG((x + y) % 256), 6) AS mean_b
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("pipeline", "multimodal", "source", "binaryfile"),
)
def mm_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingestion from REAL files via Spark's built-in
    `binaryFile` source — the missing first mile of the mm family (the
    other mm queries synthesize payloads in-column): 50 spec-compliant
    PPM files on disk are read as (path, length, content) rows, the
    doc_id is recovered from the filename, and the SAME mapInPandas
    decoder as `mm_ppm_decode_real` parses header + raster to channel
    means.  The closed-form oracle verifies byte length AND decoded
    features, so a truncated read, wrong file-to-row mapping or stride
    bug all fail the hash.

    Scale shape: binaryFile lists and reads files partition-parallel
    (maxPartitionBytes-packed); the decode is Arrow-batched map-side
    work; nothing shuffles before the demo sort.  At 100 TB this is the
    image/audio shard reader feeding the decode stages — path and byte
    metadata come free for provenance (`scan_file_provenance`'s binary
    sibling)."""
    d = build_ppm_files(sf_dir)
    bf = spark.read.format("binaryFile").load(f"{d}/*.ppm")
    with_payload = bf.select(
        F.regexp_extract(
            F.col("path"), r"doc_(\d+)\.ppm$", 1
        ).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.col("content").alias("payload"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(decode_ppm_features)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"],
                    "width": feats.map(lambda t: t[0]),
                    "height": feats.map(lambda t: t[1]),
                    "mean_r": feats.map(lambda t: round(t[2], 6)),
                    "mean_g": feats.map(lambda t: round(t[3], 6)),
                    "mean_b": feats.map(lambda t: round(t[4], 6)),
                }
            )

    return (
        with_payload.mapInPandas(
            python_task(extract),
            "doc_id long, n_bytes long, width long, height long, "
            "mean_r double, mean_g double, mean_b double",
        )
        .orderBy("doc_id")
    )

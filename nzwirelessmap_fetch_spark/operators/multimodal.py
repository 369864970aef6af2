"""Multimodal (binary) column plumbing (SURVEY.md §2.4).

Media travels as opaque ``binary`` columns with typed metadata — the same
model as Spark's ``binaryFile`` source. Feature extraction runs through
``mapInPandas`` (Arrow record batches; the only operator family in this
repo where Python in the hot path is justified, because real decoders are
C libraries behind Python APIs).

The actual image/audio decode is STUBBED: this container has no
PIL/ffmpeg, so ``decode_image`` raises ``NotImplementedError`` and the
pipeline uses ``fake_decode_features`` — a deterministic stand-in with the
same signature, schema, and batch shape as a real decoder. The Spark-side
plumbing (schema, partitioning, Arrow batching) is real and oracle-checked:
the fake features are pure functions of the bytes, so DuckDB reproduces
them from the same blobs.

Scale notes: mapInPandas streams Arrow batches — no per-row pickling, no
driver collect; batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Decode is CPU-bound and
embarrassingly parallel: partition count, not operator design, is the knob.

JPEG decision (r6 verdict directive #7, recorded): JPEG stays
PIL-only, DELIBERATELY. The stdlib PNG codec exists because PNG is
pure zlib + byte filters (~250 LoC, bit-exact by construction); a
baseline JPEG decoder is a different class of project — Huffman
tables, dequantization, IDCT, chroma upsampling — where a from-scratch
implementation would be slow (pure-Python IDCT per 8×8 block), large
(~1k LoC), and still APPROXIMATE (IDCT rounding differs across
libjpeg builds, so pinned-pixel oracles would be false precision). On
any production host ``pip install pillow`` flips the guard to the
battle-tested decoder through the SAME mapInPandas plumbing; in this
container JPEG raises the documented NotImplementedError naming the
dependency. PNG — including palette (type 3) with tRNS since r7 —
covers the vendor-free path end to end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog

FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, content_md5 string, width int, height int"
)


try:  # real image decoder, present on production hosts
    from PIL import Image as _PILImage  # type: ignore

    IMAGE_DECODER_AVAILABLE = True
except ImportError:  # this container ships no PIL — fall back to the stub
    _PILImage = None
    IMAGE_DECODER_AVAILABLE = False


def decode_image(data: bytes) -> dict:
    """Real decoder hook, three guarded branches (r4 directive #6 + r6
    directive #3): PIL when importable (JPEG/WebP/…); else the
    pure-stdlib PNG decoder (`functions/png.py` — zlib + all five row
    filters, runs in THIS container); else the documented
    NotImplementedError (now only reachable for non-PNG formats on a
    PIL-less host). Same output schema as ``fake_decode_features`` so
    the mapInPandas plumbing is identical on every path — swap the
    callable, not the plan."""
    from ..functions import png as _png

    if IMAGE_DECODER_AVAILABLE:
        import io

        with _PILImage.open(io.BytesIO(data)) as img:
            return {
                "n_bytes": len(data),
                "content_md5": hashlib.md5(data).hexdigest(),
                "width": int(img.width),
                "height": int(img.height),
            }
    if _png.is_png(data):
        w, h, _ch, _raw = _png.decode_png(data)
        return {
            "n_bytes": len(data),
            "content_md5": hashlib.md5(data).hexdigest(),
            "width": w,
            "height": h,
        }
    raise NotImplementedError(
        "non-PNG image decode requires PIL/libvips; PNG decodes via the "
        "stdlib codec; use fake_decode_features for oracle-replayable tests"
    )


def decode_audio(data: bytes) -> dict:
    """REAL audio decode — stdlib ``wave`` parses the RIFF/WAVE header and
    numpy computes true RMS energy over the PCM samples. Unlike the image
    path this needs no external library, so the real-decoder branch of the
    multimodal plumbing is exercised in THIS container (pytest), not just
    on a PIL-present host. Registry entries keep the deterministic fake
    (DuckDB must reproduce features from the same bytes); this is the
    production decoder a real corpus would swap in via the same
    mapInPandas shape."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(data), "rb") as w:
        n_frames = w.getnframes()
        sample_rate = w.getframerate()
        n_channels = w.getnchannels()
        sampwidth = w.getsampwidth()
        pcm = w.readframes(n_frames)
    if sampwidth != 2:
        raise NotImplementedError("only 16-bit PCM handled")
    samples = np.frombuffer(pcm, dtype="<i2").astype("float64")
    rms = float(np.sqrt((samples**2).mean())) if samples.size else 0.0
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "n_frames": n_frames,
        "rms": rms,
    }


AUDIO_DECODE_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, n_frames int, rms double"
)


def audio_decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL-decoder plumbing over any (media_id, media
    binary) frame: wave-header parse + RMS per item via mapInPandas —
    the exact physical shape of the registry's fake-decode entries, but
    running an actual decoder end-to-end (tested in-container with
    synthesized PCM WAV blobs)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["media"].map(decode_audio)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": feats.map(lambda f: f["sample_rate"]),
                    "n_channels": feats.map(lambda f: f["n_channels"]),
                    "n_frames": feats.map(lambda f: f["n_frames"]),
                    "rms": feats.map(lambda f: f["rms"]),
                }
            )

    return media.select("media_id", "media").mapInPandas(
        extract, AUDIO_DECODE_SCHEMA
    )


IMAGE_DECODE_SCHEMA = (
    "media_id long, n_bytes bigint, content_md5 string, width int, height int"
)


def image_decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL-pixel plumbing over any (media_id, media
    binary) frame: PNG (or PIL) decode per item via mapInPandas — the
    exact physical shape of the registry's fake-decode entries, running
    an actual image decoder end-to-end (tested in-container with
    stdlib-encoded PNG blobs; r6 directive #3)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["media"].map(lambda b: decode_image(bytes(b)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": feats.map(lambda f: f["n_bytes"]),
                    "content_md5": feats.map(lambda f: f["content_md5"]),
                    "width": feats.map(lambda f: f["width"]),
                    "height": feats.map(lambda f: f["height"]),
                }
            )

    return media.select("media_id", "media").mapInPandas(
        extract, IMAGE_DECODE_SCHEMA
    )


IMAGE_RESIZE_SCHEMA = (
    "media_id long, in_w int, in_h int, out_w int, out_h int, thumb binary"
)


def image_resize(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL resize through the same mapInPandas shape as
    ``multimodal_resize``: PNG-decode → luminance → integer box
    resample → re-encode the thumbnail as a valid PNG binary column.
    Scan-bound pure map, no shuffle; thumbnails are (out_w*out_h)-byte
    gray PNGs regardless of input payload size."""
    from ..functions import png as _png

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                w, h, ch, raw = _png.decode_png(bytes(blob))
                thumb = _png.box_resize(
                    _png.luminance(raw, w, h, ch), w, h, out_w, out_h
                )
                rows.append(
                    (
                        mid,
                        w,
                        h,
                        out_w,
                        out_h,
                        _png.encode_png(thumb, out_w, out_h, channels=1),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "in_w", "in_h", "out_w", "out_h", "thumb"],
            )

    return media.select("media_id", "media").mapInPandas(
        resize, IMAGE_RESIZE_SCHEMA
    )


def image_phash(media: DataFrame) -> DataFrame:
    """REAL-pixel dHash (9x8 luminance grid) per media item — the
    real-decoder twin of ``multimodal_phash_dedup``'s byte-signal hash,
    through the identical Arrow-batch plumbing."""
    from ..functions import png as _png

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    # two's-complement wrap: the 64-bit hash must fit
                    # Spark's signed long (bit 63 set would overflow)
                    "dhash": pdf["media"].map(
                        lambda b: (lambda v: v - (1 << 64) if v >= 1 << 63 else v)(
                            _png.image_dhash(bytes(b))
                        )
                    ),
                }
            )

    return media.select("media_id", "media").mapInPandas(
        hash_batch, "media_id long, dhash long"
    )


def fake_decode_features(data: bytes) -> dict:
    """Deterministic stand-in for decode: features derived purely from the
    byte content (so any engine can reproduce them)."""
    n = len(data)
    return {
        "n_bytes": n,
        "content_md5": hashlib.md5(data).hexdigest(),
        "width": 64 + n % 577,
        "height": 64 + (n * 31) % 353,
    }


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column table synthesized from documents (no image fixtures in
    the testdata): media = utf-8 bytes, metadata = (format, n_bytes)."""
    d = Catalog(spark, sf_dir).table("documents")
    return d.select(
        "doc_id",
        F.col("text").cast("binary").alias("media"),
        F.struct(
            F.lit("fake/raw").alias("format"),
            F.length(F.col("text").cast("binary")).cast("int").alias("n_bytes"),
        ).alias("meta"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media binary column → per-item features via Arrow-batched
    mapInPandas."""
    media = media_table(spark, sf_dir)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["media"].map(fake_decode_features)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": feats.map(lambda f: f["n_bytes"]),
                    "content_md5": feats.map(lambda f: f["content_md5"]),
                    "width": feats.map(lambda f: f["width"]),
                    "height": feats.map(lambda f: f["height"]),
                }
            )

    return media.select("doc_id", "media").mapInPandas(extract, FEATURE_SCHEMA)


MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT)                       AS n_bytes,
       md5(text)                                                     AS content_md5,
       CAST(64 + octet_length(encode(text)) % 577 AS INT)            AS width,
       CAST(64 + (octet_length(encode(text)) * 31) % 353 AS INT)     AS height
FROM documents
"""


TARGET_W, TARGET_H = 224, 224
FRAME_CHARS = 256   # "frame" = 256-char slice of the media payload
FRAME_STRIDE = 3    # sample every 3rd frame


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: per-item target dims + scale factors + thumbnail
    digest via Arrow-batched ``mapInPandas``.

    The real resampler (PIL/libvips) slots into ``_resize_one`` unchanged;
    the deterministic stand-in derives everything from the payload so the
    oracle reproduces it. Same physical shape as production: a pure map
    over Arrow batches, scan-bound, no shuffle."""
    media = media_table(spark, sf_dir)

    def _resize_one(s: str) -> dict:
        f = fake_decode_features(s.encode("utf-8"))
        thumb = s[:512]
        return {
            "in_w": f["width"],
            "in_h": f["height"],
            "out_w": TARGET_W,
            "out_h": TARGET_H,
            "scale_x": TARGET_W / f["width"],
            "scale_y": TARGET_H / f["height"],
            "thumb_md5": hashlib.md5(thumb.encode("utf-8")).hexdigest(),
        }

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["media"].map(lambda b: _resize_one(bytes(b).decode("utf-8")))
            out = pd.DataFrame(list(feats))
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    schema = (
        "doc_id long, in_w int, in_h int, out_w int, out_h int, "
        "scale_x double, scale_y double, thumb_md5 string"
    )
    return media.select("doc_id", "media").mapInPandas(resize, schema)


MULTIMODAL_RESIZE_SQL = f"""
WITH f AS (
  SELECT doc_id, text,
         CAST(64 + octet_length(encode(text)) % 577 AS INT)        AS in_w,
         CAST(64 + (octet_length(encode(text)) * 31) % 353 AS INT) AS in_h
  FROM documents
)
SELECT doc_id, in_w, in_h,
       {TARGET_W} AS out_w, {TARGET_H} AS out_h,
       {TARGET_W}.0 / in_w AS scale_x,
       {TARGET_H}.0 / in_h AS scale_y,
       md5(substring(text, 1, 512)) AS thumb_md5
FROM f
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: 1→N expansion inside ``mapInPandas`` — each media
    payload is cut into fixed-size frames and every ``FRAME_STRIDE``-th
    frame is emitted with its digest.

    This is the video-pipeline shape (decode → sample keyframes →
    per-frame features) with the decoder stubbed to deterministic slicing.
    The expansion happens executor-side inside the Arrow batch, so the
    explosion factor never touches the driver and downstream per-frame
    operators see an ordinary DataFrame."""
    media = media_table(spark, sf_dir)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                s = bytes(blob).decode("utf-8")
                n_frames = max(1, -(-len(s) // FRAME_CHARS))
                for i in range(0, n_frames, FRAME_STRIDE):
                    frame = s[i * FRAME_CHARS : (i + 1) * FRAME_CHARS]
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "n_frames": n_frames,
                            "frame_md5": hashlib.md5(
                                frame.encode("utf-8")
                            ).hexdigest(),
                        }
                    )
            yield pd.DataFrame(rows)

    schema = "doc_id long, frame_idx int, n_frames int, frame_md5 string"
    return media.select("doc_id", "media").mapInPandas(sample, schema)


MULTIMODAL_FRAME_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, text,
         GREATEST(1, CAST(ceil(length(text) / {FRAME_CHARS}.0) AS INT)) AS n_frames
  FROM documents
)
, idx AS (
  SELECT doc_id, text, n_frames,
         unnest(range(0, n_frames, {FRAME_STRIDE})) AS i
  FROM d
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       n_frames,
       md5(substring(text, i * {FRAME_CHARS} + 1, {FRAME_CHARS})) AS frame_md5
FROM idx
"""


FRAME_SAMPLES = 256  # 8-bit samples (bytes) per audio frame


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-pipeline plumbing: payload bytes as 8-bit PCM samples →
    fixed 256-sample frames → per-frame energy (Σ sample²) → per-item
    rollup (frame count, total energy, loudest frame), all INSIDE the
    Arrow batch (§2.4 multimodal — the audio sibling of frame_sample).

    The design point: decode+reduce FUSED executor-side. A real
    loudness/VAD pass emits per-item summaries, not per-frame rows — so
    the 1→N frame expansion lives and dies inside ``mapInPandas`` and
    nothing frame-sized ever shuffles or lands on the driver. Swap the
    byte interpretation for a real PCM decoder (soundfile/ffmpeg) and
    the plan is unchanged: a pure scan-bound map over Arrow batches.

    Integer-exact arithmetic (byte values squared and summed as Python
    ints) keeps the oracle replay bit-stable — no float accumulation.
    """
    media = media_table(spark, sf_dir)

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                n = len(data)
                frames = [
                    sum(b * b for b in data[i : i + FRAME_SAMPLES])
                    for i in range(0, n, FRAME_SAMPLES)
                ]
                peak_idx = max(range(len(frames)), key=lambda i: (frames[i], -i))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_samples": n,
                        "n_frames": len(frames),
                        "total_energy": sum(frames),
                        "peak_frame_idx": peak_idx,
                        "peak_energy": frames[peak_idx],
                    }
                )
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, n_samples int, n_frames int, total_energy long, "
        "peak_frame_idx int, peak_energy long"
    )
    return (
        media.filter(F.length("media") > 0)  # empty payload = no frames, both engines
        .select("doc_id", "media")
        .mapInPandas(energy, schema)
    )


# The oracle frames over UTF-8 BYTES, exactly like the Spark side (which
# squares `bytes(blob)` values): the blob is hex-encoded and each byte
# reconstructed from its two hex digits. An earlier revision framed over
# CHARACTERS via substring()/ascii(), which only agreed because the
# fixtures were pure ASCII — a regen with any multi-byte codepoint would
# have diverged on both sample values and frame segmentation. The window
# SUM is cast to BIGINT because DuckDB's SUM(BIGINT) yields HUGEINT,
# which pandas narrows to float64 (exact only below 2^53).
MULTIMODAL_AUDIO_ENERGY_SQL = f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
  WHERE octet_length(encode(text)) > 0
),
f AS (
  SELECT doc_id, h, n,
         unnest(range(0, CAST(ceil(n / {FRAME_SAMPLES}.0) AS INT))) AS i
  FROM d
),
e AS (
  SELECT doc_id, n, i,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(
               list_transform(range(0, LEAST({FRAME_SAMPLES}, n - i*{FRAME_SAMPLES})),
                 j -> (strpos('0123456789ABCDEF',
                              substring(h, (i*{FRAME_SAMPLES} + j)*2 + 1, 1)) - 1) * 16
                      + strpos('0123456789ABCDEF',
                               substring(h, (i*{FRAME_SAMPLES} + j)*2 + 2, 1)) - 1),
               v -> v::BIGINT * v::BIGINT)),
           (a, b) -> a + b) AS energy
  FROM f
),
ranked AS (
  SELECT doc_id, n, i, energy,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY energy DESC, i ASC) AS rn,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_frames,
         CAST(SUM(energy) OVER (PARTITION BY doc_id) AS BIGINT) AS total_energy
  FROM e
)
SELECT doc_id,
       CAST(n AS INT) AS n_samples,
       CAST(n_frames AS INT) AS n_frames,
       total_energy,
       CAST(i AS INT) AS peak_frame_idx,
       energy AS peak_energy
FROM ranked WHERE rn = 1
"""


# --- Perceptual-hash near-dup over the media column -----------------------

PHASH_BUCKETS = 49       # 49 bucket means -> 48 gradient bits (fits signed int64)
PHASH_BITS = PHASH_BUCKETS - 1
PHASH_BANDS = 4          # 4 x 12-bit bands: pigeonhole-lossless for Hamming <= 3
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
PHASH_HAMMING_MAX = 3


def phash_dhash(data: bytes) -> int:
    """Difference-hash (dHash) over the 1-D byte signal: downsample the
    payload to ``PHASH_BUCKETS`` equal-span bucket sums, then emit one
    bit per adjacent-bucket gradient (``sum[i] > sum[i+1]``). This IS the
    classic image dHash with the 2-D 9x8 grid flattened to a byte line —
    swap the bucket stage for a real resampled-luminance grid (PIL) and
    nothing downstream changes. Locality: edits touching few bytes
    perturb few bucket sums, so near-identical payloads land within a
    small Hamming radius (unlike md5, which avalanches).

    Integer-only arithmetic; replayed bit-exactly by the DuckDB oracle
    from the hex-encoded payload."""
    n = len(data)
    sums = [
        sum(data[j * n // PHASH_BUCKETS : (j + 1) * n // PHASH_BUCKETS])
        for j in range(PHASH_BUCKETS)
    ]
    h = 0
    for i in range(PHASH_BITS):
        h = (h << 1) | (1 if sums[i] > sums[i + 1] else 0)
    return h


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup PAIRS over the media binary column
    (§2.4 multimodal x dedup): dHash each payload inside the Arrow batch
    (mapInPandas — the only Python stage), then find all pairs within
    Hamming distance ≤ {PHASH_HAMMING_MAX} via 12-bit banding — the
    image-dedup pipeline (near-identical images under re-encode/resize
    collide) run on the deterministic byte-signal stand-in.

    Scale shape: hashing is scan-bound map-side work (64 bits out per
    item, whatever the payload size); the band explode is map-side x4;
    candidates come from the (band, key) equi-join — LOSSLESS for the
    ≤3 radius by pigeonhole (4 bands, ≤3 flips -> ≥1 intact band), never
    all-pairs — and one bit_count(XOR) verifies each. The quadratic
    oracle states the semantic form directly, so the gate pins the
    losslessness claim. Mirrors dedup_simhash_hamming; reference has no
    media surface (SURVEY §2.4 charter extension).
    """
    media = media_table(spark, sf_dir)

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                if len(data) < PHASH_BUCKETS:
                    continue  # sub-bucket payloads filtered upstream too
                rows.append({"doc_id": doc_id, "phash": phash_dhash(data)})
            yield pd.DataFrame(rows, columns=["doc_id", "phash"])

    # the hash build feeds both sides of the band self-join
    hashed = (
        media.filter(F.length("media") >= PHASH_BUCKETS)
        .select("doc_id", "media")
        .mapInPandas(hash_batch, "doc_id long, phash long")
        .localCheckpoint(eager=True)
    )
    mask = (1 << PHASH_BAND_BITS) - 1
    bands = hashed.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("phash"), PHASH_BAND_BITS * i)
                        .bitwiseAND(mask)
                        .alias("key"),
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "phash", "b.band", "b.key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
    )


# Bucket sums replayed from the hex-encoded payload (the audio-energy
# byte-extraction pattern); DuckDB lists are 1-indexed, so sums[i] is
# s[i+1]. The pair scan is quadratic ON PURPOSE: it is the semantic
# definition the banded plan must equal.
MULTIMODAL_PHASH_DEDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
  WHERE octet_length(encode(text)) >= {PHASH_BUCKETS}
),
sums AS (
  SELECT doc_id,
         list_transform(range(0, {PHASH_BUCKETS}), j ->
           list_reduce(list_prepend(0::BIGINT,
             list_transform(range(j * n // {PHASH_BUCKETS},
                                  (j + 1) * n // {PHASH_BUCKETS}),
               p -> ((strpos('0123456789ABCDEF', substring(h, p*2 + 1, 1)) - 1) * 16
                     + strpos('0123456789ABCDEF', substring(h, p*2 + 2, 1)) - 1)::BIGINT)),
             (a, b) -> a + b)) AS s
  FROM d
),
sig AS (
  SELECT doc_id,
         list_reduce(list_prepend(0::BIGINT,
           list_transform(range(0, {PHASH_BITS}),
             i -> CASE WHEN s[i + 1] > s[i + 2] THEN 1::BIGINT ELSE 0::BIGINT END)),
           (acc, bit) -> acc * 2 + bit) AS phash
  FROM sums
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
"""


# --- Scene-cut detection over the media column ----------------------------

CUT_LUM_DELTA = 2  # scene cut when adjacent frame mean-luminance jumps ≥ 2


def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection plumbing (§2.4 multimodal — the shot-
    segmentation stage of a video curation pipeline): payload bytes cut
    into {FRAME_SAMPLES}-byte frames, per-frame "luminance" = integer
    mean byte value, a CUT wherever adjacent frames jump by
    ≥ {CUT_LUM_DELTA}, and a per-item summary (frame/cut/scene counts,
    first cut, mean luminance). Real pipelines sample keyframes per
    scene, not per frame — this summary is the scheduling input.

    Same fused decode+reduce shape as multimodal_audio_energy: the 1→N
    frame expansion and the adjacent-frame differencing live entirely
    inside the Arrow batch; per-item rows are all that leave the
    executor. Swap the byte luminance for a real frame decoder and the
    plan is unchanged. Integer-exact (floor-divide means, integer
    deltas), so the oracle replays the arithmetic from the same blobs
    via hex decode — the UTF-8 BYTE framing discipline (not characters;
    see MULTIMODAL_AUDIO_ENERGY_SQL's rationale)."""
    media = media_table(spark, sf_dir)

    def cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                frames = [
                    data[i : i + FRAME_SAMPLES]
                    for i in range(0, len(data), FRAME_SAMPLES)
                ]
                lums = [sum(f) // len(f) for f in frames]
                cut_idx = [
                    i
                    for i in range(1, len(lums))
                    if abs(lums[i] - lums[i - 1]) >= CUT_LUM_DELTA
                ]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": len(frames),
                        "n_cuts": len(cut_idx),
                        "n_scenes": len(cut_idx) + 1,
                        "first_cut_idx": cut_idx[0] if cut_idx else -1,
                        "mean_lum": sum(lums) // len(lums),
                    }
                )
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, n_frames int, n_cuts int, n_scenes int, "
        "first_cut_idx int, mean_lum long"
    )
    return (
        media.filter(F.length("media") > 0)
        .select("doc_id", "media")
        .mapInPandas(cuts, schema)
    )


# Byte-exact replay: hex-decode the blob, frame it, floor-divide means,
# lag-diff per doc — the audio-energy oracle's machinery with a window
# differencing stage on top.
MULTIMODAL_SCENE_CUTS_SQL = f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
  WHERE octet_length(encode(text)) > 0
),
f AS (
  SELECT doc_id, h, n,
         unnest(range(0, CAST(ceil(n / {FRAME_SAMPLES}.0) AS INT))) AS i
  FROM d
),
lum AS (
  SELECT doc_id, i,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(range(0, LEAST({FRAME_SAMPLES}, n - i*{FRAME_SAMPLES})),
               j -> CAST((strpos('0123456789ABCDEF',
                             substring(h, (i*{FRAME_SAMPLES} + j)*2 + 1, 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                              substring(h, (i*{FRAME_SAMPLES} + j)*2 + 2, 1)) - 1
                    AS BIGINT))),
           (a, b) -> a + b)
         // LEAST({FRAME_SAMPLES}, n - i*{FRAME_SAMPLES}) AS lum
  FROM f
),
diffs AS (
  SELECT doc_id, i, lum,
         lum - LAG(lum) OVER (PARTITION BY doc_id ORDER BY i) AS dl
  FROM lum
),
cutrows AS (
  SELECT doc_id, i,
         CASE WHEN dl IS NOT NULL AND ABS(dl) >= {CUT_LUM_DELTA}
              THEN 1 ELSE 0 END AS is_cut,
         lum
  FROM diffs
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_frames,
       CAST(SUM(is_cut) AS INT) AS n_cuts,
       CAST(SUM(is_cut) + 1 AS INT) AS n_scenes,
       CAST(COALESCE(MIN(CASE WHEN is_cut = 1 THEN i END), -1) AS INT)
         AS first_cut_idx,
       CAST(SUM(lum) AS BIGINT) // COUNT(*) AS mean_lum
FROM cutrows
GROUP BY doc_id
"""


# --- Voice-activity detection over the media column -----------------------

VAD_ENERGY_MIN = 2_000_000  # frame is "active" when Σ sample² ≥ this


def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection plumbing (§2.4 multimodal — the speech
    sibling of scene cuts): {FRAME_SAMPLES}-byte PCM frames → per-frame
    energy → active/silent classification at Σ sample² ≥
    {VAD_ENERGY_MIN} → ISLAND detection over consecutive active frames
    → per-item segment summary (active frames, segment count, longest
    run, first active frame). Real ASR pipelines feed exactly this
    summary to the chunker: transcribe segments, skip silence.

    Decode+classify+segment all fused inside the Arrow batch (the
    audio_energy design point); integer-exact throughout, so the oracle
    replays from the same blobs via hex decode and a gaps-and-islands
    window (i − rank among active frames)."""
    media = media_table(spark, sf_dir)

    def vad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                energies = [
                    sum(b * b for b in data[i : i + FRAME_SAMPLES])
                    for i in range(0, len(data), FRAME_SAMPLES)
                ]
                active = [e >= VAD_ENERGY_MIN for e in energies]
                segs: list[int] = []
                run = 0
                for a in active:
                    if a:
                        run += 1
                    elif run:
                        segs.append(run)
                        run = 0
                if run:
                    segs.append(run)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": len(energies),
                        "n_active": sum(active),
                        "n_segments": len(segs),
                        "longest_segment": max(segs) if segs else 0,
                        "first_active_idx": active.index(True)
                        if any(active)
                        else -1,
                    }
                )
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, n_frames int, n_active int, n_segments int, "
        "longest_segment int, first_active_idx int"
    )
    return (
        media.filter(F.length("media") > 0)
        .select("doc_id", "media")
        .mapInPandas(vad, schema)
    )


# Island detection: among ACTIVE frames ordered by i, (i − row_number)
# is constant within a run — the standard gaps-and-islands key.
MULTIMODAL_AUDIO_VAD_SQL = f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
  WHERE octet_length(encode(text)) > 0
),
f AS (
  SELECT doc_id, h, n,
         unnest(range(0, CAST(ceil(n / {FRAME_SAMPLES}.0) AS INT))) AS i
  FROM d
),
e AS (
  SELECT doc_id, i,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(
               list_transform(range(0, LEAST({FRAME_SAMPLES}, n - i*{FRAME_SAMPLES})),
                 j -> (strpos('0123456789ABCDEF',
                              substring(h, (i*{FRAME_SAMPLES} + j)*2 + 1, 1)) - 1) * 16
                      + strpos('0123456789ABCDEF',
                               substring(h, (i*{FRAME_SAMPLES} + j)*2 + 2, 1)) - 1),
               v -> v::BIGINT * v::BIGINT)),
           (a, b) -> a + b) AS energy
  FROM f
),
act AS (
  SELECT doc_id, i,
         CASE WHEN energy >= {VAD_ENERGY_MIN} THEN 1 ELSE 0 END AS is_active
  FROM e
),
islands AS (
  SELECT doc_id, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM act WHERE is_active = 1
),
segs AS (
  SELECT doc_id, grp, COUNT(*) AS seg_len, MIN(i) AS seg_start
  FROM islands GROUP BY 1, 2
),
seg_sum AS (
  SELECT doc_id, COUNT(*) AS n_segments,
         MAX(seg_len) AS longest_segment,
         MIN(seg_start) AS first_active_idx
  FROM segs GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(COUNT(*) AS INT) AS n_frames,
       CAST(SUM(a.is_active) AS INT) AS n_active,
       CAST(COALESCE(MAX(s.n_segments), 0) AS INT) AS n_segments,
       CAST(COALESCE(MAX(s.longest_segment), 0) AS INT) AS longest_segment,
       CAST(COALESCE(MAX(s.first_active_idx), -1) AS INT) AS first_active_idx
FROM act a LEFT JOIN seg_sum s ON s.doc_id = a.doc_id
GROUP BY a.doc_id
"""


def multimodal_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` over binary media — the zero-copy sibling of
    mapInPandas: record batches arrive as **pyarrow.RecordBatch** and
    every per-item reduction here is a VECTORIZED Arrow compute kernel
    (`binary_length`, `count_substring`) — no Python executes per item,
    let alone per byte. The right surface when the UDF body is itself
    Arrow-native (tokenizers with Arrow bindings, tensor libs reading
    Arrow buffers); the deliberate contrast with the mapInPandas
    entries is that nothing is ever converted to pandas objects."""
    import pyarrow as pa
    import pyarrow.compute as pc

    media = media_table(spark, sf_dir)

    def arrow_stats(batches):
        for batch in batches:
            blobs = batch.column("media")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.binary_length(blobs), pa.int32()),
                    pc.cast(pc.count_substring(blobs, b" "), pa.int32()),
                ],
                names=["doc_id", "n_bytes", "n_spaces"],
            )

    return media.select("doc_id", "media").mapInArrow(
        arrow_stats, "doc_id long, n_bytes int, n_spaces int"
    )


MULTIMODAL_MAP_IN_ARROW_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(octet_length(encode(text))
            - octet_length(encode(replace(text, ' ', ''))) AS INT) AS n_spaces
FROM documents
"""

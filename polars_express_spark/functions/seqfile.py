"""Hadoop SequenceFile reader/writer (SURVEY.md §2.10 ingestion tier,
r16).

The Hive-era row container next to Avro: a decade of Hadoop pipelines
shipped intermediate corpora as SequenceFiles, and they still sit in
every long-lived data lake. The version-6 layout is public struct math
(the Hadoop SequenceFile format documentation):

    SEQ\\x06                               magic + version
    key class name, value class name      Hadoop vint length + UTF-8
    u8 compressed, u8 block_compressed    booleans
    [codec class name]                    present when compressed
    u32be metadata count + count x (Text key, Text value)
    16-byte sync marker
    records: u32be record_length | u32be key_length | key | value
             (record_length == 0xFFFFFFFF escapes a 16-byte sync
              marker that must equal the header's)

Hadoop vints are the WritableUtils encoding: one byte for [-112, 127],
else a negative marker byte giving the big-endian byte count and sign.
Record compression (the DefaultCodec = zlib WITH header) deflates each
VALUE individually. BLOCK compression (r17 — the layout Hive/MR shops
wrote by default) restructures records into sync-delimited blocks,
each a record count (vint) followed by FOUR length-prefixed deflated
buffer groups — key lengths (vints), serialized keys, value lengths
(vints), serialized values — per the public Hadoop SequenceFile.java
BlockCompressWriter/readBlock layout; every buffer group must consume
exactly, and the per-block sync markers are the splittability
convention. All inflation runs through the shared capped bomb guard.
Both layouts take any of the SIX public Hadoop codecs (r18): the
zlib DefaultCodec; GzipCodec, BZip2Codec, and ZStandardCodec (stream
codecs — the stdlib decoders' CRC trailers verified for the first
two, libzstd via functions/zstd.py for the third); and SnappyCodec /
Lz4Codec — Hadoop's BlockCompressorStream framing (u32be uncompressed
block size, then u32be-length-prefixed raw codec chunks) over
functions/snappy.py / functions/lz4.py (libsnappy / liblz4; an LZ4
chunk may produce at most 4 MiB, and Hadoop's writer splits at its
256 KiB buffer).

Key/value payloads are Writable-serialized; this module unwraps the
two classes a byte-level pipeline owns — BytesWritable (u32be inner
length that must equal the outer length minus 4) and Text (Hadoop
vint length + UTF-8, validated) — and returns any other class's bytes
opaque (the tf.Example precedent: framing, splitting, and the sync
markers ARE the Spark reader's job; the sync escape is exactly what
makes a 100 TB SequenceFile executor-splittable).

Reference parity anchor: extends the reference's CSV-only ingest
(reference src/main.rs:41-52) like the other §2.10 ingestion tiers.
"""

from __future__ import annotations

import struct
import zlib

_MAGIC = b"SEQ\x06"
_MAX_INFLATE = 1 << 26
_SYNC_DEFAULT = bytes(range(0x50, 0x60))
_BYTES_WRITABLE = "org.apache.hadoop.io.BytesWritable"
_TEXT = "org.apache.hadoop.io.Text"
_INT_WRITABLE = "org.apache.hadoop.io.IntWritable"
_LONG_WRITABLE = "org.apache.hadoop.io.LongWritable"
_NULL_WRITABLE = "org.apache.hadoop.io.NullWritable"
_DEFAULT_CODEC = "org.apache.hadoop.io.compress.DefaultCodec"
_SNAPPY_CODEC = "org.apache.hadoop.io.compress.SnappyCodec"
_LZ4_CODEC = "org.apache.hadoop.io.compress.Lz4Codec"
_GZIP_CODEC = "org.apache.hadoop.io.compress.GzipCodec"
_BZIP2_CODEC = "org.apache.hadoop.io.compress.BZip2Codec"
_ZSTD_CODEC = "org.apache.hadoop.io.compress.ZStandardCodec"


def _read_hvint(b: bytes, pos: int):
    """Hadoop WritableUtils vint: (value, end_pos) or None."""
    if pos >= len(b):
        return None
    first = b[pos] - 256 if b[pos] >= 128 else b[pos]
    pos += 1
    if first >= -112:
        return first, pos
    ln = (-119 - first) if first < -120 else (-111 - first)
    if pos + ln - 1 > len(b):
        return None
    val = 0
    for i in range(ln - 1):
        val = (val << 8) | b[pos + i]
    pos += ln - 1
    if first < -120 or -112 <= first < 0:
        val = ~val
    return val, pos


def _w_hvint(n: int) -> bytes:
    """Hadoop WritableUtils vint writer (the readVLong inverse)."""
    if -112 <= n <= 127:
        return bytes([n & 0xFF])
    neg = n < 0
    if neg:
        n = ~n
    ln = max(1, (n.bit_length() + 7) // 8)
    if ln > 8:
        raise ValueError("out of vlong range")
    first = (-120 if neg else -112) - ln
    return bytes([first & 0xFF]) + n.to_bytes(ln, "big")


def _read_hstring(b: bytes, pos: int):
    """Hadoop vint-length UTF-8 string: (str, end_pos) or None."""
    r = _read_hvint(b, pos)
    if r is None:
        return None
    ln, pos = r
    if ln < 0 or ln > len(b) - pos:
        return None
    try:
        return b[pos : pos + ln].decode("utf-8"), pos + ln
    except UnicodeDecodeError:
        return None


def _w_hstring(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _w_hvint(len(raw)) + raw


def _unwrap(payload: bytes, cls: str):
    """Unwrap a Writable-serialized payload for the in-envelope
    classes; other classes pass through opaque. Returns bytes or None
    on a malformed envelope. r17 adds the numeric Writables of the
    classic MR output shapes (SequenceFile<LongWritable, Text> line
    offsets, IntWritable counters, NullWritable placeholders) — each a
    fixed-width big-endian payload whose exact length IS the
    envelope."""
    if cls == _INT_WRITABLE:
        return payload if len(payload) == 4 else None
    if cls == _LONG_WRITABLE:
        return payload if len(payload) == 8 else None
    if cls == _NULL_WRITABLE:
        return payload if len(payload) == 0 else None
    if cls == _BYTES_WRITABLE:
        if len(payload) < 4:
            return None
        (inner,) = struct.unpack_from(">I", payload, 0)
        if inner != len(payload) - 4:
            return None
        return payload[4:]
    if cls == _TEXT:
        r = _read_hvint(payload, 0)
        if r is None:
            return None
        ln, at = r
        if ln != len(payload) - at:
            return None
        try:
            payload[at:].decode("utf-8")
        except UnicodeDecodeError:
            return None
        return payload[at:]
    return payload


def parse_seqfile(payload: bytes):
    """REAL SequenceFile v6 parse: returns (key_class, value_class,
    compression, {metadata}, sync, [(key bytes, value bytes), ...]) or
    None, where ``compression`` is 'none' | 'record' | 'block' with a
    '-snappy'/'-lz4'/'-gzip'/'-bzip2' suffix naming the codec (r17 —
    all five public Hadoop codecs: the block-framed raw decoders for
    snappy/lz4, the stdlib stream decoders for gzip/bzip2). Record framing (or
    the four-buffer-group block layout), every sync marker, the
    BytesWritable/Text envelopes, and each codec stream are verified;
    other codecs, truncation, and trailing bytes are out of envelope.
    Inflation is capped (bomb guard)."""
    n = len(payload)
    if n < 4 + 2 + 2 + 4 + 16 or payload[:4] != _MAGIC:
        return None
    r = _read_hstring(payload, 4)
    if r is None:
        return None
    key_class, pos = r
    r = _read_hstring(payload, pos)
    if r is None:
        return None
    value_class, pos = r
    if pos + 2 > n:
        return None
    compressed = payload[pos]
    block_compressed = payload[pos + 1]
    pos += 2
    if compressed not in (0, 1) or block_compressed not in (0, 1):
        return None
    if block_compressed and not compressed:
        return None  # no writer produces this combination
    codec = _DEFAULT_CODEC
    if compressed:
        r = _read_hstring(payload, pos)
        if r is None:
            return None
        codec, pos = r
        if codec not in (_DEFAULT_CODEC, _SNAPPY_CODEC, _LZ4_CODEC,
                         _GZIP_CODEC, _BZIP2_CODEC, _ZSTD_CODEC):
            return None  # the six public Hadoop codecs (r18)
    if pos + 4 > n:
        return None
    (meta_count,) = struct.unpack_from(">I", payload, pos)
    pos += 4
    if meta_count > n - pos:
        return None  # each entry needs >=2 bytes
    meta: dict[str, str] = {}
    for _ in range(meta_count):
        r = _read_hstring(payload, pos)
        if r is None:
            return None
        k, pos = r
        r = _read_hstring(payload, pos)
        if r is None:
            return None
        v, pos = r
        if k in meta:
            return None
        meta[k] = v
    if pos + 16 > n:
        return None
    sync = payload[pos : pos + 16]
    pos += 16
    suffix = {_SNAPPY_CODEC: "-snappy", _LZ4_CODEC: "-lz4",
              _GZIP_CODEC: "-gzip", _BZIP2_CODEC: "-bzip2",
              _ZSTD_CODEC: "-zstd"}.get(codec, "")
    if block_compressed:
        records = _parse_block_body(
            payload, pos, sync, key_class, value_class, codec
        )
        if records is None:
            return None
        return (key_class, value_class, "block" + suffix, meta, sync,
                records)
    records: list[tuple[bytes, bytes]] = []
    total_inflated = 0
    while pos < n:
        if pos + 4 > n:
            return None
        (rec_len,) = struct.unpack_from(">I", payload, pos)
        pos += 4
        if rec_len == 0xFFFFFFFF:  # sync escape
            if payload[pos : pos + 16] != sync or pos + 16 > n:
                return None
            pos += 16
            continue
        if pos + 4 > n:
            return None
        (key_len,) = struct.unpack_from(">I", payload, pos)
        pos += 4
        if key_len > rec_len or rec_len > n - pos:
            return None
        key_raw = payload[pos : pos + key_len]
        val_raw = payload[pos + key_len : pos + rec_len]
        pos += rec_len
        key = _unwrap(key_raw, key_class)
        if key is None:
            return None
        if compressed:
            val_ser = _codec_inflate(
                codec, val_raw, _MAX_INFLATE - total_inflated
            )
            if val_ser is None:
                return None
        else:
            if len(val_raw) > _MAX_INFLATE - total_inflated:
                return None
            val_ser = val_raw
        total_inflated += len(val_ser)
        val = _unwrap(val_ser, value_class)
        if val is None:
            return None
        records.append((key, val))
    return (key_class, value_class,
            ("record" + suffix) if compressed else "none",
            meta, sync, records)


def _inflate_capped(raw: bytes, cap: int):
    """One zlib (DefaultCodec) stream through the shared bomb guard:
    returns the inflated bytes or None on a broken stream, trailing
    compressed garbage, or output past ``cap``."""
    d = zlib.decompressobj()
    try:
        data = d.decompress(raw, cap + 1)
    except zlib.error:
        return None
    if len(data) > cap or not d.eof or d.unconsumed_tail or d.unused_data:
        return None
    return data


def _block_stream_decode(raw: bytes, cap: int, chunk_decode):
    """Hadoop BlockCompressorStream framing (the SnappyCodec and
    Lz4Codec layout): repeat [u32be uncompressed block size, then
    u32be compressed-chunk length + one complete codec chunk per
    entry until the block size is produced]. A zero-length input
    stream is the codec's empty output. Returns the bytes or None on
    any framing lie, a chunk that decompresses past its block, or
    output past ``cap``."""
    out = bytearray()
    pos = 0
    n = len(raw)
    while pos < n:
        if pos + 4 > n:
            return None
        (orig,) = struct.unpack_from(">I", raw, pos)
        pos += 4
        if orig > cap - len(out):
            return None
        produced = 0
        while produced < orig:
            if pos + 4 > n:
                return None
            (clen,) = struct.unpack_from(">I", raw, pos)
            pos += 4
            if clen > n - pos:
                return None
            chunk = chunk_decode(
                raw[pos : pos + clen], orig - produced
            )
            if chunk is None:
                return None
            pos += clen
            produced += len(chunk)
            out += chunk
        if produced != orig:
            return None
    return bytes(out)


def _bz2_inflate_capped(raw: bytes, cap: int):
    """One bzip2 stream through the shared bomb guard (the BZip2Codec
    form — bzip2 carries its own per-block CRCs, which the stdlib
    decompressor verifies)."""
    import bz2

    d = bz2.BZ2Decompressor()
    try:
        data = d.decompress(raw, cap + 1)
    except (OSError, ValueError, EOFError):
        return None
    if len(data) > cap or not d.eof or d.unused_data:
        return None
    return data


def _gzip_inflate_capped(raw: bytes, cap: int):
    """One gzip member through the shared bomb guard (the GzipCodec
    form — the member's CRC-32 trailer is verified by zlib)."""
    d = zlib.decompressobj(wbits=31)
    try:
        data = d.decompress(raw, cap + 1)
    except zlib.error:
        return None
    if len(data) > cap or not d.eof or d.unconsumed_tail or d.unused_data:
        return None
    return data


def _codec_inflate(codec: str, raw: bytes, cap: int):
    """Route one compressed buffer through its codec's decoder."""
    if codec == _GZIP_CODEC:
        return _gzip_inflate_capped(raw, cap)
    if codec == _BZIP2_CODEC:
        return _bz2_inflate_capped(raw, cap)
    if codec == _ZSTD_CODEC:
        # Hadoop's ZStandardCodec is a stream codec like Gzip: the
        # buffer is a raw zstd stream
        from polars_express_spark.functions.zstd import decode_zstd

        return decode_zstd(raw, cap)
    if codec == _SNAPPY_CODEC:
        from polars_express_spark.functions.snappy import decompress_snappy

        return _block_stream_decode(raw, cap, decompress_snappy)
    if codec == _LZ4_CODEC:
        from polars_express_spark.functions.lz4 import (
            decompress_lz4_block,
        )

        return _block_stream_decode(raw, cap, decompress_lz4_block)
    return _inflate_capped(raw, cap)


def _codec_deflate(codec: str, data: bytes) -> bytes:
    """The writer twin of _codec_inflate."""
    if codec == _GZIP_CODEC:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(data) + co.flush()
    if codec == _BZIP2_CODEC:
        import bz2

        return bz2.compress(data, 6)
    if codec == _ZSTD_CODEC:
        from polars_express_spark.functions.zstd import encode_zstd

        return encode_zstd(data, content_size=False, checksum=True)
    if codec in (_SNAPPY_CODEC, _LZ4_CODEC):
        if not data:
            return b""  # BlockCompressorStream writes nothing for empty
        if codec == _SNAPPY_CODEC:
            from polars_express_spark.functions.snappy import (
                encode_snappy,
            )

            z = encode_snappy(data)
        else:
            from polars_express_spark.functions.lz4 import (
                encode_lz4_block,
            )

            z = encode_lz4_block(data)
        return struct.pack(">I", len(data)) + struct.pack(">I", len(z)) + z
    return zlib.compress(data, 6)


def _parse_block_body(payload, pos, sync, key_class, value_class,
                      codec=_DEFAULT_CODEC):
    """The block-compressed body walk (Hadoop BlockCompressWriter's
    readBlock twin): each block is a sync escape (0xFFFFFFFF + the
    header's 16-byte sync), a record-count vint, then FOUR
    length-prefixed DefaultCodec buffer groups — key lengths (vints),
    serialized keys, value lengths (vints), serialized values. Every
    group must consume exactly (count vints; lengths summing to the
    sibling buffer's size), keys/values unwrap their Writable
    envelopes, and inflation shares one cap across the file. Returns
    the record list or None."""
    n = len(payload)
    records: list[tuple[bytes, bytes]] = []
    total_inflated = 0
    while pos < n:
        if pos + 20 > n:
            return None
        (esc,) = struct.unpack_from(">I", payload, pos)
        if esc != 0xFFFFFFFF or payload[pos + 4 : pos + 20] != sync:
            return None
        pos += 20
        r = _read_hvint(payload, pos)
        if r is None:
            return None
        count, pos = r
        if count < 1:
            return None  # the writer never emits an empty block
        groups = []
        for _ in range(4):
            r = _read_hvint(payload, pos)
            if r is None:
                return None
            ln, pos = r
            if ln < 0 or ln > n - pos:
                return None
            data = _codec_inflate(
                codec, payload[pos : pos + ln],
                _MAX_INFLATE - total_inflated,
            )
            if data is None:
                return None
            total_inflated += len(data)
            pos += ln
            groups.append(data)
        key_lens, keys_buf, val_lens, vals_buf = groups
        block = []
        for lens, buf in ((key_lens, keys_buf), (val_lens, vals_buf)):
            at = off = 0
            items = []
            for _ in range(count):
                r = _read_hvint(lens, at)
                if r is None:
                    return None
                ln, at = r
                if ln < 0 or ln > len(buf) - off:
                    return None
                items.append(buf[off : off + ln])
                off += ln
            if at != len(lens) or off != len(buf):
                return None  # both groups must consume exactly
            block.append(items)
        for key_raw, val_raw in zip(*block):
            key = _unwrap(key_raw, key_class)
            val = _unwrap(val_raw, value_class)
            if key is None or val is None:
                return None
            records.append((key, val))
    if not records:
        return None
    return records


def encode_seqfile(
    records,
    key_class: str = _TEXT,
    value_class: str = _BYTES_WRITABLE,
    compress=False,
    sync_interval: int = 0,
    metadata=None,
    sync: bytes = _SYNC_DEFAULT,
    records_per_block: int = 0,
) -> bytes:
    """Independent SequenceFile v6 writer: ``records`` is a list of
    (key bytes, value bytes) pairs, wrapped in the named Writable
    envelopes (Text validates UTF-8; BytesWritable prefixes the u32be
    inner length; other class names write the bytes opaque).
    ``compress`` is 'none' | 'record' | 'block' (bools keep their
    r16 meaning: True == 'record'). Record form: the zlib DefaultCodec
    per value, with ``sync_interval`` > 0 writing the sync escape
    before every interval-th record. Block form: records grouped
    ``records_per_block`` per block (0 → one block), each block a
    sync + count + four deflated buffer groups per the Hadoop
    BlockCompressWriter layout."""
    if len(sync) != 16:
        raise ValueError("sync marker is 16 bytes")
    if isinstance(compress, bool):
        compress = "record" if compress else "none"
    _FORMS = ("none", "record", "block",
              "record-snappy", "block-snappy", "record-lz4",
              "block-lz4", "record-gzip", "block-gzip",
              "record-bzip2", "block-bzip2",
              "record-zstd", "block-zstd")
    if compress not in _FORMS:
        raise ValueError(
            "compress must be 'none' or "
            "'record|block[-snappy|-lz4|-gzip|-bzip2|-zstd]'"
        )
    form, _, codec_tag = compress.partition("-")
    codec = {"snappy": _SNAPPY_CODEC, "lz4": _LZ4_CODEC,
             "gzip": _GZIP_CODEC, "bzip2": _BZIP2_CODEC,
             "zstd": _ZSTD_CODEC}.get(codec_tag, _DEFAULT_CODEC)

    def wrap(data, cls: str) -> bytes:
        if cls in (_INT_WRITABLE, _LONG_WRITABLE) and isinstance(
            data, int
        ):
            return data.to_bytes(4 if cls == _INT_WRITABLE else 8,
                                 "big", signed=True)
        if cls == _NULL_WRITABLE:
            return b""
        data = bytes(data)
        if cls == _BYTES_WRITABLE:
            return struct.pack(">I", len(data)) + data
        if cls == _TEXT:
            data.decode("utf-8")
            return _w_hvint(len(data)) + data
        return data

    out = bytearray(_MAGIC)
    out += _w_hstring(key_class) + _w_hstring(value_class)
    out += bytes([0 if form == "none" else 1,
                  1 if form == "block" else 0])
    if form != "none":
        out += _w_hstring(codec)
    meta = metadata or {}
    out += struct.pack(">I", len(meta))
    for k, v in meta.items():
        out += _w_hstring(k) + _w_hstring(v)
    out += sync
    if form == "block":
        if not records:
            raise ValueError("block form needs at least one record")
        step = records_per_block if records_per_block > 0 else len(records)
        for at in range(0, len(records), step):
            chunk = records[at : at + step]
            kws = [wrap(k, key_class) for k, _ in chunk]
            vws = [wrap(v, value_class) for _, v in chunk]
            out += b"\xff\xff\xff\xff" + sync + _w_hvint(len(chunk))
            for group in (
                b"".join(_w_hvint(len(k)) for k in kws), b"".join(kws),
                b"".join(_w_hvint(len(v)) for v in vws), b"".join(vws),
            ):
                z = _codec_deflate(codec, group)
                out += _w_hvint(len(z)) + z
        return bytes(out)
    for i, (key, value) in enumerate(records):
        if sync_interval and i and i % sync_interval == 0:
            out += b"\xff\xff\xff\xff" + sync
        kw = wrap(key, key_class)
        vw = wrap(value, value_class)
        if form == "record":
            vw = _codec_deflate(codec, vw)
        out += struct.pack(">II", len(kw) + len(vw), len(kw)) + kw + vw
    return bytes(out)


SEQFILE_SCHEMA = (
    "doc_id bigint, rec_no int, key string, compression string, "
    "size bigint, mean_b double, min_b int, max_b int"
)


def _seqfile_rows(doc_id, payload: bytes):
    """Per-container extraction for read_seqfile_records: parses,
    renders the key by its class — Text as the UTF-8 string
    (parse_seqfile has already validated it), IntWritable/LongWritable
    as the signed big-endian integer's decimal form (the Hadoop
    toString convention for the classic MR key classes, r17),
    NullWritable as the empty string — and returns the stat tuples.
    Other key classes yield opaque bytes this operator cannot decode
    as a string column: raise the descriptive ValueError."""
    import numpy as np

    parsed = parse_seqfile(bytes(payload))
    if parsed is None:
        raise ValueError(
            f"doc {doc_id}: corrupt or out-of-envelope SequenceFile"
        )
    kc, _vc, compression, _meta, _sync, recs = parsed
    if kc not in (_TEXT, _INT_WRITABLE, _LONG_WRITABLE, _NULL_WRITABLE):
        raise ValueError(
            f"doc {doc_id}: key class {kc!r} not supported by "
            "read_seqfile_records (Text/IntWritable/LongWritable/"
            "NullWritable keys only)"
        )
    rows = []
    for rno, (key, val) in enumerate(recs):
        if kc == _TEXT:
            key_str = key.decode("utf-8")
        elif kc == _NULL_WRITABLE:
            key_str = ""
        else:
            key_str = str(int.from_bytes(key, "big", signed=True))
        arr = np.frombuffer(val, dtype=np.uint8)
        rows.append(
            (doc_id, rno, key_str, compression, len(val),
             float(arr.mean()) if arr.size else 0.0,
             int(arr.min()) if arr.size else 0,
             int(arr.max()) if arr.size else 0)
        )
    return rows


def seqfile_record_batches(batches):
    """Batch-iterator core of read_seqfile_records (module-level so query
    synth stages can compose with it inside ONE mapInPandas pass —
    one Python-runner handshake, no JVM round trip of the payload)."""
    from collections.abc import Iterator
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rows.extend(_seqfile_rows(doc_id, payload))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "rec_no", "key", "compression", "size",
                     "mean_b", "min_b", "max_b"],
        ).astype({"rec_no": "int32", "min_b": "int32",
                  "max_b": "int32"})


def read_seqfile_records(df):
    """SequenceFile extraction operator (the WARC/zip/tar/TFRecord/
    Avro operator shape): one container row → one row per record with
    the Text key, the parsed compression layout, and exact byte stats
    over the unwrapped BytesWritable value. Malformed files raise.
    Arrow-batched mapInPandas; container bytes never leave the
    executor."""
    return df.select("doc_id", "payload").mapInPandas(
        seqfile_record_batches, schema=SEQFILE_SCHEMA
    )

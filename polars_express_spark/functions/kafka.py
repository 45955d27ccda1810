"""Kafka RecordBatch v2 log-segment reader/writer (SURVEY.md §2.10,
r17).

The streaming-era ingestion format: Kafka topics persist on disk (and
land in object stores via tiered storage / connect sinks) as log
segments — a concatenation of RecordBatch v2 structures, the layout
published in the Kafka protocol documentation (messages / "Record
Batch"). Pure struct math, all multi-byte fields BIG-endian:

    baseOffset i64 | batchLength i32 | partitionLeaderEpoch i32 |
    magic i8 (=2) | crc u32 (CRC-32C over attributes..end) |
    attributes i16 | lastOffsetDelta i32 | baseTimestamp i64 |
    maxTimestamp i64 | producerId i64 | producerEpoch i16 |
    baseSequence i32 | recordCount i32 | records

Records use ZIGZAG VARINTS (the protobuf/Avro idiom) throughout:

    length | attributes i8 | timestampDelta varlong |
    offsetDelta varint | keyLen varint (-1 = null) | key |
    valueLen varint (-1 = null) | value | headerCount varint |
    headers: [keyLen varint + key(UTF-8) + valueLen varint + value]

The records block may be compressed as a whole per attributes bits
0-2: 0 none, 1 gzip (a standard gzip member through the capped
inflate), 2 snappy in the xerial snappy-java stream framing
(b"\\x82SNAPPY\\x00" magic, two u32be version ints, then u32be-length-
prefixed raw-Snappy chunks — the framing every JVM Kafka producer
writes), 3 lz4 (the standard LZ4 FRAME — v2 batches use the correct
frame header checksum), 4 zstd (multi-frame streams accepted). Codecs
ride functions/snappy.py, functions/lz4.py, functions/zstd.py, which
parse the codec headers in Python and decode through pyarrow's
libsnappy, liblz4 and libzstd.

r18 also parses the LEGACY message sets (magic 0 and 1 — archived
pre-0.11 topics in long-lived lakes): flat [offset i64be |
messageSize i32be | message] entries whose message is [crc u32be
(IEEE CRC-32 over magic..end, verified) | magic u8 | attributes u8 |
timestamp i64be (magic 1) | keyLen i32be (-1 null) | key |
valueLen i32be | value]; compressed sets are a wrapper message whose
value nests another set (magic 1: relative inner offsets anchored at
the wrapper's; magic 0: as stored; wrappers may not nest), with
codecs none/gzip/xerial-snappy/lz4 — including KIP-57's magic-0
'broken HC' lz4 frames, whose header checksum pre-0.10 producers
computed over the magic bytes + descriptor (accepted by HC rewrite;
encode_kafka_legacy_set writes that form for magic 0 so the quirk
round-trips). Dispatch keys on the magic byte at entry offset 16,
shared by both layouts — exactly how Kafka's own log layer does it.

Integrity: the CRC-32C (the same Castagnoli table as the TFRecord
tier) covers EVERYTHING from attributes to the end of the batch, so
every bit flip in a batch body is DETECTED — the strongest posture in
the ingestion family, and exactly why consumers can resume mid-
segment: batchLength + the CRC are the format's own splittability
convention. Strictness: magic must be 0/1/2, v2 recordCount must match the
decoded records exactly, every record's length varint must consume
exactly, offsetDelta/timestampDelta monotonicity is NOT assumed (the
spec allows gaps), trailing bytes reject.

encode_kafka_segment / encode_kafka_legacy_set are the independent
writer twins.

Reference parity anchor: extends the reference's CSV-only ingest
(reference src/main.rs:41-52) like the other §2.10 ingestion tiers.
"""

from __future__ import annotations

import struct
import zlib

from polars_express_spark.functions.tfrecord import crc32c

_MAX_INFLATE = 1 << 26
_XERIAL_MAGIC = b"\x82SNAPPY\x00"


def _read_zigzag(b: bytes, pos: int):
    """Kafka's zigzag varint (protobuf wire idiom, 64-bit):
    (value, end_pos) or None."""
    result = 0
    shift = 0
    for _ in range(10):
        if pos >= len(b):
            return None
        byte = b[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            if result >= 1 << 64:
                return None
            return (result >> 1) ^ -(result & 1), pos
        shift += 7
    return None


def _w_zigzag(n: int) -> bytes:
    z = ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)
    out = bytearray()
    while True:
        if z < 0x80:
            out.append(z)
            return bytes(out)
        out.append((z & 0x7F) | 0x80)
        z >>= 7


def _read_sized(b: bytes, pos: int):
    """varint length (-1 = None/null) + payload: (bytes|None, end)."""
    r = _read_zigzag(b, pos)
    if r is None:
        return None
    ln, pos = r
    if ln == -1:
        return (None, pos)
    if ln < 0 or ln > len(b) - pos:
        return None
    return b[pos : pos + ln], pos + ln


def _xerial_decode(raw: bytes, cap: int):
    """The snappy-java stream framing JVM producers write: the 8-byte
    magic, two u32be version ints (version, minCompatibleVersion),
    then u32be-length-prefixed raw-Snappy chunks."""
    from polars_express_spark.functions.snappy import decompress_snappy

    if len(raw) < 16 or raw[:8] != _XERIAL_MAGIC:
        return None
    version, compat = struct.unpack_from(">II", raw, 8)
    if version < 1 or compat < 1:
        return None
    pos = 16
    out = bytearray()
    while pos < len(raw):
        if pos + 4 > len(raw):
            return None
        (clen,) = struct.unpack_from(">I", raw, pos)
        pos += 4
        if clen > len(raw) - pos:
            return None
        chunk = decompress_snappy(raw[pos : pos + clen], cap - len(out))
        if chunk is None:
            return None
        pos += clen
        out += chunk
    return bytes(out)


def _xerial_encode(data: bytes) -> bytes:
    from polars_express_spark.functions.snappy import encode_snappy

    z = encode_snappy(data)
    return (_XERIAL_MAGIC + struct.pack(">II", 1, 1)
            + struct.pack(">I", len(z)) + z)


def _decompress_records(codec: int, raw: bytes):
    """attributes bits 0-2 → the records block decoder."""
    if codec == 0:
        return raw if len(raw) <= _MAX_INFLATE else None
    if codec == 1:  # gzip
        d = zlib.decompressobj(wbits=31)
        try:
            data = d.decompress(raw, _MAX_INFLATE + 1)
        except zlib.error:
            return None
        if (len(data) > _MAX_INFLATE or not d.eof or d.unconsumed_tail
                or d.unused_data):
            return None
        return data
    if codec == 2:  # snappy (xerial framing)
        return _xerial_decode(raw, _MAX_INFLATE)
    if codec == 3:  # lz4 frame
        from polars_express_spark.functions.lz4 import parse_lz4_frame

        r = parse_lz4_frame(raw, _MAX_INFLATE)
        return None if r is None else r[0]
    if codec == 4:  # zstd
        from polars_express_spark.functions.zstd import decode_zstd

        return decode_zstd(raw, _MAX_INFLATE)
    return None  # codecs 5-7 are unassigned by the protocol


def _legacy_decompress(codec: int, raw: bytes, magic: int):
    """Legacy wrapper-message value → the nested message set bytes.
    Codecs 1-3 as in v2 (zstd never existed for legacy sets). For
    magic 0 + lz4, accept KIP-57's 'broken HC' frames — pre-0.10
    producers computed the LZ4 frame header checksum over the MAGIC
    BYTES + descriptor; detect that form and rewrite the byte to the
    spec value so the strict frame parser still verifies everything
    else."""
    if codec == 1:
        d = zlib.decompressobj(wbits=31)
        try:
            data = d.decompress(raw, _MAX_INFLATE + 1)
        except zlib.error:
            return None
        if (len(data) > _MAX_INFLATE or not d.eof or d.unconsumed_tail
                or d.unused_data):
            return None
        return data
    if codec == 2:
        return _xerial_decode(raw, _MAX_INFLATE)
    if codec == 3:
        from polars_express_spark.functions.lz4 import (
            parse_lz4_frame,
            xxh32,
        )

        blob = raw
        if magic == 0 and len(raw) >= 7:
            flg = raw[4]
            desc_len = 2 + (8 if flg & 0x08 else 0)
            hc_pos = 4 + desc_len
            if hc_pos < len(raw):
                broken = (xxh32(raw[0 : 4 + desc_len]) >> 8) & 0xFF
                correct = (xxh32(raw[4 : 4 + desc_len]) >> 8) & 0xFF
                if raw[hc_pos] == broken and broken != correct:
                    blob = (raw[:hc_pos] + bytes([correct])
                            + raw[hc_pos + 1 :])
        r = parse_lz4_frame(blob, _MAX_INFLATE)
        return None if r is None else r[0]
    return None


def _parse_legacy_entries(data: bytes, depth: int = 0):
    """One legacy (magic 0/1) message set → a list of (abs_offset,
    timestamp, key, value) tuples or None. Entries are
    [offset i64be | messageSize i32be | message]; the message CRC-32
    (IEEE, over magic..end) is verified — every flip in a message
    body is DETECTED — and each message must consume its size
    exactly. A compressed wrapper's value holds a nested set: magic 1
    stores RELATIVE inner offsets (the wrapper carries the last
    message's absolute offset), magic 0 stores them as written;
    wrappers may not nest."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 12 > n:
            return None
        off, msize = struct.unpack_from(">qi", data, pos)
        if msize < 6 or pos + 12 + msize > n:
            return None
        msg = data[pos + 12 : pos + 12 + msize]
        pos += 12 + msize
        (crc,) = struct.unpack_from(">I", msg, 0)
        if zlib.crc32(msg[4:]) != crc:
            return None  # every flip in a message: DETECTED
        magic = msg[4]
        if magic not in (0, 1):
            return None
        attrs = msg[5]
        if attrs & 0xF0 or (magic == 0 and attrs & 0x08):
            return None  # reserved bits (bit 3 = timestampType, v1)
        p = 6
        ts = -1
        if magic == 1:
            if p + 8 > len(msg):
                return None
            (ts,) = struct.unpack_from(">q", msg, p)
            p += 8
        vals = []
        for _ in range(2):
            if p + 4 > len(msg):
                return None
            (ln,) = struct.unpack_from(">i", msg, p)
            p += 4
            if ln == -1:
                vals.append(None)
                continue
            if ln < 0 or ln > len(msg) - p:
                return None
            vals.append(msg[p : p + ln])
            p += ln
        if p != len(msg):
            return None  # a message must consume its size exactly
        key, value = vals
        codec = attrs & 0x7
        if codec == 0:
            out.append((off, ts, key, value))
            continue
        if depth or value is None:
            return None  # wrappers may not nest; need a payload
        inner_raw = _legacy_decompress(codec, value, magic)
        if inner_raw is None:
            return None
        inner = _parse_legacy_entries(inner_raw, depth + 1)
        if not inner:
            return None
        if magic == 1:  # relative offsets, anchored at the wrapper's
            last_rel = inner[-1][0]
            inner = [(off - (last_rel - rel), its, ik, iv)
                     for rel, its, ik, iv in inner]
        out.extend(inner)
    return out


def _parse_legacy_batch(payload: bytes, pos: int):
    """One top-level legacy entry at ``pos`` → (batch dict, end_pos)
    or None. A plain message becomes a one-record batch; a compressed
    wrapper's nested set becomes that batch's records (the pre-0.11
    analog of a RecordBatch). producer_id is -1 (the field did not
    exist), base_timestamp follows the first record (-1 for magic 0,
    which carries no timestamps)."""
    n = len(payload)
    if pos + 18 > n:
        return None
    off, msize = struct.unpack_from(">qi", payload, pos)
    if msize < 6 or pos + 12 + msize > n:
        return None
    end = pos + 12 + msize
    entry = payload[pos:end]
    recs = _parse_legacy_entries(entry)
    if not recs:
        return None
    magic = entry[16]
    codec_bits = entry[17] & 0x7
    records = [
        {"offset": o, "timestamp": t, "key": k, "value": v,
         "headers": []}
        for o, t, k, v in recs
    ]
    return {
        "base_offset": records[0]["offset"],
        "producer_id": -1,
        "base_timestamp": records[0]["timestamp"],
        "codec": ["none", "gzip", "snappy", "lz4"][codec_bits],
        "transactional": False,
        "control": False,
        "magic": magic,
        "records": records,
    }, end


def parse_kafka_segment(payload: bytes):
    """REAL Kafka log-segment parse: returns a list of batch dicts —
    {"base_offset", "producer_id", "base_timestamp", "codec"
    ('none'/'gzip'/'snappy'/'lz4'/'zstd'), "transactional", "control",
    "magic" (2, or 0/1 for legacy sets), "records": [{"offset",
    "timestamp", "key" (bytes|None), "value" (bytes|None), "headers":
    [(str, bytes|None), ...]}, ...]} — or None. Every batch's magic,
    CRC-32C (attributes through the end), batchLength, and
    recordCount are verified; record and header varint framing must
    consume exactly; header keys must be UTF-8; truncation and
    trailing bytes reject.

    r18: LEGACY message sets (magic 0/1 — archived pre-0.11 topics in
    long-lived lakes) parse alongside v2 batches: both layouts carry
    the magic byte at entry offset 16, which is exactly how Kafka's
    own log layer dispatches. Each top-level legacy entry becomes a
    batch (a compressed wrapper's nested set supplies its records,
    with magic 1's RELATIVE inner offsets reconstructed from the
    wrapper offset and magic 0's taken as stored); per-message IEEE
    CRC-32s are verified, and the magic-0 lz4 'broken HC' quirk
    (KIP-57) is accepted by HC rewrite."""
    if not isinstance(payload, (bytes, bytearray, memoryview)):
        return None
    payload = bytes(payload)
    n = len(payload)
    batches = []
    pos = 0
    while pos < n:
        if pos + 17 > n:
            return None
        if payload[pos + 16] in (0, 1):  # a legacy message set entry
            r = _parse_legacy_batch(payload, pos)
            if r is None:
                return None
            batches.append(r[0])
            pos = r[1]
            continue
        if pos + 12 > n:
            return None
        base_offset, batch_len = struct.unpack_from(">qi", payload, pos)
        if batch_len < 49 or pos + 12 + batch_len > n:
            return None  # header fields alone take 49 bytes past length
        body = payload[pos + 12 : pos + 12 + batch_len]
        pos += 12 + batch_len
        (_leader_epoch,) = struct.unpack_from(">i", body, 0)
        magic = body[4]
        if magic != 2:
            return None  # v0/v1 message sets are out of envelope
        (crc,) = struct.unpack_from(">I", body, 5)
        if crc32c(body[9:]) != crc:
            return None  # any flip from attributes to the end: DETECTED
        (attributes, last_offset_delta) = struct.unpack_from(
            ">hi", body, 9
        )
        base_ts, _max_ts, producer_id = struct.unpack_from(">qqq", body, 15)
        _producer_epoch, _base_seq, record_count = struct.unpack_from(
            ">hii", body, 39
        )
        if record_count < 0:
            return None
        codec_bits = attributes & 0x7
        records_raw = body[49:]
        data = _decompress_records(codec_bits, records_raw)
        if data is None:
            return None
        records = []
        q = 0
        for _ in range(record_count):
            r = _read_zigzag(data, q)
            if r is None:
                return None
            rec_len, q = r
            if rec_len < 0 or rec_len > len(data) - q:
                return None
            rec_end = q + rec_len
            rec = data[q:rec_end]
            q = rec_end
            if len(rec) < 1:
                return None
            rp = 1  # record attributes byte (unused by the spec today)
            r = _read_zigzag(rec, rp)
            if r is None:
                return None
            ts_delta, rp = r
            r = _read_zigzag(rec, rp)
            if r is None:
                return None
            off_delta, rp = r
            r = _read_sized(rec, rp)
            if r is None:
                return None
            key, rp = r
            r = _read_sized(rec, rp)
            if r is None:
                return None
            value, rp = r
            r = _read_zigzag(rec, rp)
            if r is None:
                return None
            hdr_count, rp = r
            if hdr_count < 0:
                return None
            headers = []
            for _ in range(hdr_count):
                r = _read_sized(rec, rp)
                if r is None:
                    return None
                hk, rp = r
                if hk is None:
                    return None  # header keys may not be null
                try:
                    hk = hk.decode("utf-8")
                except UnicodeDecodeError:
                    return None
                r = _read_sized(rec, rp)
                if r is None:
                    return None
                hv, rp = r
                headers.append((hk, hv))
            if rp != len(rec):
                return None  # a record must consume its length exactly
            records.append({
                "offset": base_offset + off_delta,
                "timestamp": base_ts + ts_delta,
                "key": key,
                "value": value,
                "headers": headers,
            })
        if q != len(data):
            return None  # the records block must consume exactly
        batches.append({
            "base_offset": base_offset,
            "producer_id": producer_id,
            "base_timestamp": base_ts,
            "codec": ["none", "gzip", "snappy", "lz4",
                      "zstd"][codec_bits],
            "transactional": bool(attributes & 0x10),
            "control": bool(attributes & 0x20),
            "magic": 2,
            "records": records,
        })
    if not batches:
        return None
    return batches


def encode_kafka_segment(batches, codec: str = "none") -> bytes:
    """Independent log-segment writer: ``batches`` is a list of dicts
    {"base_offset", "base_timestamp", "producer_id", "records":
    [{"timestamp", "key", "value", "headers"}, ...]} (keys/values may
    be None = null); ``codec`` in none/gzip/snappy/lz4 compresses each
    batch's records block. offsetDelta is the record's index; the
    CRC-32C is computed over attributes..end exactly as consumers
    verify it."""
    codec_bits = {"none": 0, "gzip": 1, "snappy": 2, "lz4": 3,
                  "zstd": 4}[codec]
    out = bytearray()
    for b in batches:
        recs = b["records"]
        base_ts = b["base_timestamp"]
        data = bytearray()
        max_ts = base_ts
        for i, rec in enumerate(recs):
            max_ts = max(max_ts, rec["timestamp"])
            body = bytearray(b"\x00")  # record attributes
            body += _w_zigzag(rec["timestamp"] - base_ts)
            body += _w_zigzag(i)
            for part in (rec.get("key"), rec.get("value")):
                if part is None:
                    body += _w_zigzag(-1)
                else:
                    body += _w_zigzag(len(part)) + bytes(part)
            headers = rec.get("headers", [])
            body += _w_zigzag(len(headers))
            for hk, hv in headers:
                hkb = hk.encode("utf-8")
                body += _w_zigzag(len(hkb)) + hkb
                if hv is None:
                    body += _w_zigzag(-1)
                else:
                    body += _w_zigzag(len(hv)) + bytes(hv)
            data += _w_zigzag(len(body)) + body
        data = bytes(data)
        if codec == "gzip":
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            blob = co.compress(data) + co.flush()
        elif codec == "snappy":
            blob = _xerial_encode(data)
        elif codec == "lz4":
            from polars_express_spark.functions.lz4 import (
                encode_lz4_frame,
            )

            blob = encode_lz4_frame(data)
        elif codec == "zstd":
            from polars_express_spark.functions.zstd import encode_zstd

            blob = encode_zstd(data)
        else:
            blob = data
        tail = (
            struct.pack(">hi", codec_bits, max(len(recs) - 1, 0))
            + struct.pack(">qqq", base_ts, max_ts, b["producer_id"])
            + struct.pack(">hii", 0, 0, len(recs))
            + blob
        )
        body = (
            struct.pack(">i", 0) + b"\x02"
            + struct.pack(">I", crc32c(tail)) + tail
        )
        out += struct.pack(">qi", b["base_offset"], len(body)) + body
    return bytes(out)


def _break_lz4_hc(frame: bytes) -> bytes:
    """Rewrite a spec LZ4 frame's header-checksum byte to the KIP-57
    magic-0 'broken' form (xxh32 over magic + descriptor)."""
    from polars_express_spark.functions.lz4 import xxh32

    flg = frame[4]
    desc_len = 2 + (8 if flg & 0x08 else 0)
    hc_pos = 4 + desc_len
    broken = (xxh32(frame[: 4 + desc_len]) >> 8) & 0xFF
    return frame[:hc_pos] + bytes([broken]) + frame[hc_pos + 1 :]


def encode_kafka_legacy_set(
    messages, magic: int = 1, codec: str = "none", base_offset: int = 0
) -> bytes:
    """Independent LEGACY message-set writer (r18): ``messages`` is a
    list of {"timestamp", "key", "value"} dicts (keys/values may be
    None; magic 0 carries no timestamps). Uncompressed sets write one
    entry per message at base_offset + i; compressed sets write ONE
    wrapper whose value is the nested set — magic 1 with RELATIVE
    inner offsets and the wrapper at the last absolute offset, magic
    0 with absolute inner offsets (the broker-rewritten form) — and
    for magic 0 + lz4 the frame header checksum is written in the
    KIP-57 'broken HC' form pre-0.10 producers emitted. Per-message
    IEEE CRC-32s cover magic..end."""
    if magic not in (0, 1):
        raise ValueError("legacy magic must be 0 or 1")
    codec_bits = {"none": 0, "gzip": 1, "snappy": 2, "lz4": 3}[codec]

    def message(attrs: int, ts: int, key, value) -> bytes:
        body = bytearray([magic, attrs])
        if magic == 1:
            body += struct.pack(">q", ts)
        for part in (key, value):
            if part is None:
                body += struct.pack(">i", -1)
            else:
                body += struct.pack(">i", len(part)) + bytes(part)
        return struct.pack(">I", zlib.crc32(bytes(body))) + bytes(body)

    def entry(off: int, msg: bytes) -> bytes:
        return struct.pack(">qi", off, len(msg)) + msg

    if codec == "none":
        return b"".join(
            entry(base_offset + i,
                  message(0, m.get("timestamp", -1), m.get("key"),
                          m.get("value")))
            for i, m in enumerate(messages)
        )
    inner = b"".join(
        entry(i if magic == 1 else base_offset + i,
              message(0, m.get("timestamp", -1), m.get("key"),
                      m.get("value")))
        for i, m in enumerate(messages)
    )
    if codec == "gzip":
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        blob = co.compress(inner) + co.flush()
    elif codec == "snappy":
        blob = _xerial_encode(inner)
    else:
        from polars_express_spark.functions.lz4 import encode_lz4_frame

        blob = encode_lz4_frame(inner)
        if magic == 0:
            blob = _break_lz4_hc(blob)
    wrap_ts = (max(m.get("timestamp", -1) for m in messages)
               if magic == 1 else -1)
    return entry(base_offset + len(messages) - 1,
                 message(codec_bits, wrap_ts, None, blob))


KAFKA_SCHEMA = (
    "doc_id bigint, batch_no int, rec_no int, koffset bigint, "
    "ts bigint, codec string, magic int, key_len int, key_sum bigint, "
    "val_len int, val_sum bigint, n_headers int, hdr_sum bigint, "
    "hdr_names string"
)


def kafka_record_batches(batches):
    """Batch-iterator core of read_kafka_records (module-level so query
    synth stages can compose with it inside ONE mapInPandas pass —
    one Python-runner handshake, no JVM round trip of the payload)."""
    from collections.abc import Iterator
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = parse_kafka_segment(bytes(payload))
            if parsed is None:
                raise ValueError(
                    f"doc {doc_id}: corrupt or out-of-envelope "
                    "Kafka log segment"
                )
            for bno, batch in enumerate(parsed):
                for rno, rec in enumerate(batch["records"]):
                    key, val = rec["key"], rec["value"]
                    rows.append((
                        doc_id, bno, rno, rec["offset"],
                        rec["timestamp"], batch["codec"],
                        batch["magic"],
                        -1 if key is None else len(key),
                        0 if key is None else sum(key),
                        -1 if val is None else len(val),
                        0 if val is None else sum(val),
                        len(rec["headers"]),
                        sum(sum(hv) for _, hv in rec["headers"]
                            if hv is not None),
                        ",".join(hk for hk, _ in rec["headers"]),
                    ))
        pdf_out = pd.DataFrame(
            rows,
            columns=["doc_id", "batch_no", "rec_no", "koffset",
                     "ts", "codec", "magic", "key_len", "key_sum",
                     "val_len", "val_sum", "n_headers", "hdr_sum",
                     "hdr_names"],
        )
        for c in ("batch_no", "rec_no", "magic", "key_len",
                  "val_len", "n_headers"):
            pdf_out[c] = pdf_out[c].astype("int32")
        yield pdf_out


def read_kafka_records(df):
    """Kafka log-segment extraction operator (r17): one segment row →
    one row per record with the batch's verified codec, the
    reconstructed absolute offset and timestamp, exact key/value byte
    stats (-1 lengths for Kafka's null tombstone convention), and the
    headers pinned by count, value-byte sum, and the comma-joined
    name list. Every batch CRC-32C has already been enforced by
    parse_kafka_segment — malformed segments raise. Arrow-batched
    mapInPandas; segment bytes never leave the executor."""
    return df.select("doc_id", "payload").mapInPandas(
        kafka_record_batches, schema=KAFKA_SCHEMA
    )

"""Zstandard (RFC 8878) frames: a header walker in Python, decoding by
libzstd (pyarrow's bundled codec), and a store/RLE frame writer.

Zstd is the compression modern LLM corpora ship in: ``.jsonl.zst``
shards, Kafka attributes codec 4, Hadoop's ZStandardCodec, Avro's
``zstandard`` codec and ``.tar.zst``.

    frame = magic 0xFD2FB528 | Frame_Header (descriptor byte,
    optional window descriptor / dictionary id / content size) |
    blocks | optional 4-byte content checksum (xxh64 low 32 bits)

    block = 3-byte LE header (last bit, type Raw/RLE/Compressed,
    21-bit size) | content

What Python checks, before anything is decoded: the frame magic (and
steps over RFC 8878 skippable frames), the reserved descriptor bit, a
non-zero dictionary id (external dictionaries are out of envelope),
a window size or declared content size over ``max_output``, a
reserved block type or a block over the Block_Maximum_Size, the block
headers adding up to exactly where the frame ends (truncation and
trailing bytes reject), and at least one data frame per stream.

What libzstd checks while decoding: every entropy table and
bitstream, offsets past the window, the declared content size against
the output, and the xxh64 content checksum. Output is read in chunks
and capped at ``max_output``, so a frame that declares no size cannot
inflate past it.

Integrity asymmetry: frames WITH the content-checksum flag detect
every flip; frames without it detect most flips structurally, but
raw/RLE block bodies are unchecked, so callers layer their own CRCs,
as with LZ4 and Snappy.

``encode_zstd`` is the writer twin: store/RLE frames (raw blocks, RLE
blocks for byte runs, optional content size, optional checksum,
single-segment or windowed headers), the wire forms the queries need
that libzstd will not produce. ``xxh64`` is its checksum, pinned
against the canonical empty-input vector and cross-checked against
Spark's JVM ``xxhash64`` (seed 42) in the property suite.

Reference parity anchor: extends the reference's CSV-only ingest
(reference src/main.rs:41-52) like the other §2.10 ingestion tiers.
"""

from __future__ import annotations

import struct

from polars_express_spark.functions.libcodec import stream_decompress

_MAX_OUTPUT = 1 << 26  # the family-wide bomb cap

_FRAME_MAGIC = 0xFD2FB528
_SKIP_MAGIC_MIN = 0x184D2A50
_SKIP_MAGIC_MAX = 0x184D2A5F

_M64 = (1 << 64) - 1
_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _P64_2) & _M64, 31) * _P64_1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """xxHash64 (the public reference algorithm; the frame checksum is
    its low 32 bits). Pinned against b'' -> 0xEF46DB3751D8E999 and
    Spark's JVM xxhash64 in the property suite."""
    data = bytes(data)
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        while pos + 32 <= n:
            a, b, c, d = struct.unpack_from("<QQQQ", data, pos)
            v1 = _xxh64_round(v1, a)
            v2 = _xxh64_round(v2, b)
            v3 = _xxh64_round(v3, c)
            v4 = _xxh64_round(v4, d)
            pos += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
             + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxh64_round(0, v)) * _P64_1 + _P64_4) & _M64
    else:
        h = (seed + _P64_5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, pos)
        h = ((_rotl64(h ^ _xxh64_round(0, k), 27) * _P64_1) + _P64_4) & _M64
        pos += 8
    if pos + 4 <= n:
        (k,) = struct.unpack_from("<I", data, pos)
        h = ((_rotl64(h ^ (k * _P64_1 & _M64), 23) * _P64_2) + _P64_3) & _M64
        pos += 4
    while pos < n:
        h = (_rotl64(h ^ (data[pos] * _P64_5 & _M64), 11) * _P64_1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h


def _parse_one_frame(payload: bytes, pos: int, max_output: int):
    """Walk the headers of one zstd frame starting at ``pos`` (magic
    already matched) without decoding it: (info_dict, end_pos) or
    None."""
    n = len(payload)
    pos += 4
    if pos >= n:
        return None
    fhd = payload[pos]
    pos += 1
    if fhd & 0x08:
        return None  # reserved bit (the unused bit 4 is accepted)
    fcs_flag = fhd >> 6
    single = bool(fhd & 0x20)
    has_checksum = bool(fhd & 0x04)
    did_size = (0, 1, 2, 4)[fhd & 3]
    window = None
    if not single:
        if pos >= n:
            return None
        wd = payload[pos]
        pos += 1
        wbase = 1 << (10 + (wd >> 3))
        window = wbase + (wbase >> 3) * (wd & 7)
    if did_size:
        if pos + did_size > n:
            return None
        did = int.from_bytes(payload[pos : pos + did_size], "little")
        pos += did_size
        if did != 0:
            return None  # external dictionaries are out of envelope
    fcs_size = (0, 2, 4, 8)[fcs_flag]
    if fcs_flag == 0 and single:
        fcs_size = 1
    content_size = None
    if fcs_size:
        if pos + fcs_size > n:
            return None
        content_size = int.from_bytes(payload[pos : pos + fcs_size],
                                      "little")
        pos += fcs_size
        if fcs_size == 2:
            content_size += 256
    if single:
        if content_size is None:
            return None
        window = content_size
    if window > max_output or (content_size is not None
                               and content_size > max_output):
        return None  # bomb guard before any decoding
    block_max = min(window if window > 0 else 1, 1 << 17)
    while True:
        if pos + 3 > n:
            return None
        v = int.from_bytes(payload[pos : pos + 3], "little")
        pos += 3
        btype = (v >> 1) & 3
        bsize = v >> 3
        if btype == 3 or bsize > block_max:
            return None  # reserved type; over Block_Maximum_Size
        pos += 1 if btype == 1 else bsize  # an RLE body is one byte
        if v & 1:
            break
    if has_checksum:
        pos += 4
    if pos > n:
        return None
    return {
        "window_size": window,
        "single_segment": single,
        "content_size": content_size,
        "checksum": has_checksum,
    }, pos


def parse_zstd_frame(payload: bytes, max_output: int = _MAX_OUTPUT):
    """Zstandard frame decode: returns (content bytes,
    {"window_size", "single_segment", "content_size" (None when
    undeclared), "checksum"}) or None. The payload must be exactly
    one complete frame (trailing bytes reject); see the module
    docstring for what is checked where."""
    if not isinstance(payload, (bytes, bytearray, memoryview)):
        return None
    payload = bytes(payload)
    if len(payload) < 4 or struct.unpack_from("<I", payload, 0)[0] != \
            _FRAME_MAGIC:
        return None
    r = _parse_one_frame(payload, 0, max_output)
    if r is None or r[1] != len(payload):
        return None
    content = stream_decompress(payload, "zstd", max_output)
    return None if content is None else (content, r[0])


def parse_zstd_stream(payload: bytes, max_output: int = _MAX_OUTPUT):
    """Multi-frame zstd stream decode (the ``.jsonl.zst`` shard form):
    concatenated data frames plus RFC 8878 skippable frames, contents
    concatenated under one shared output cap. Returns (content bytes,
    [per-data-frame info dicts]) or None on any malformed frame, an
    empty stream (zero data frames), or trailing garbage."""
    if not isinstance(payload, (bytes, bytearray, memoryview)):
        return None
    payload = bytes(payload)
    n = len(payload)
    infos = []
    declared = 0  # declared sizes of the frames so far bound the next
    pos = 0
    while pos < n:
        if pos + 4 > n:
            return None
        (magic,) = struct.unpack_from("<I", payload, pos)
        if _SKIP_MAGIC_MIN <= magic <= _SKIP_MAGIC_MAX:
            if pos + 8 > n:
                return None
            (sz,) = struct.unpack_from("<I", payload, pos + 4)
            if sz > n - pos - 8:
                return None
            pos += 8 + sz
            continue
        if magic != _FRAME_MAGIC:
            return None
        r = _parse_one_frame(payload, pos, max_output - declared)
        if r is None:
            return None
        info, pos = r
        declared += info["content_size"] or 0
        infos.append(info)
    if not infos:
        return None  # libzstd decodes a skippable-only stream to b""
    content = stream_decompress(payload, "zstd", max_output)
    return None if content is None else (content, infos)


def decode_zstd(payload: bytes, max_output: int = _MAX_OUTPUT):
    """parse_zstd_stream's content-only form (the codec-gate entry
    point for Kafka / SequenceFile / Avro)."""
    r = parse_zstd_stream(payload, max_output)
    return None if r is None else r[0]


ZSTD_SCHEMA = (
    "doc_id bigint, n_bytes bigint, bsum bigint, mean_b double, "
    "n_lines bigint, n_frames int, all_ck boolean, csize bigint"
)


def zstd_content_batches(batches):
    """Batch-iterator core of read_zstd_content (module-level so query
    synth stages can compose with it inside ONE mapInPandas pass —
    one Python-runner handshake, no JVM round trip of the payload)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = parse_zstd_stream(bytes(payload))
            if parsed is None:
                raise ValueError(
                    f"doc {doc_id}: corrupt or out-of-envelope "
                    "zstd stream"
                )
            content, infos = parsed
            arr = np.frombuffer(content, dtype=np.uint8)
            declared = [i["content_size"] for i in infos]
            rows.append(
                (doc_id, len(content),
                 int(arr.astype(np.int64).sum()) if arr.size else 0,
                 float(arr.mean()) if arr.size else 0.0,
                 int((arr == 10).sum()),
                 len(infos),
                 all(i["checksum"] for i in infos),
                 -1 if any(d is None for d in declared)
                 else sum(declared))
            )
        pdf_out = pd.DataFrame(
            rows,
            columns=["doc_id", "n_bytes", "bsum", "mean_b",
                     "n_lines", "n_frames", "all_ck", "csize"],
        )
        pdf_out["n_frames"] = pdf_out["n_frames"].astype("int32")
        yield pdf_out


def read_zstd_content(df):
    """Zstd shard extraction operator: one ``.zst`` payload row
    (a frame or a multi-frame stream with skippables) → one row with
    exact content stats — byte count/sum/mean plus the newline count
    (the ``.jsonl.zst`` shard's record count) — and the stream's
    verified posture: data-frame count, whether EVERY frame carried
    the xxh64 content checksum, and the summed declared content size
    (-1 when any frame left it undeclared). Malformed streams raise —
    parse_zstd_stream has already walked every frame header and had
    libzstd verify the entropy coding, declared sizes and present
    checksums. Arrow-batched mapInPandas; compressed bytes never
    leave the executor."""
    return df.select("doc_id", "payload").mapInPandas(
        zstd_content_batches, schema=ZSTD_SCHEMA
    )


def encode_zstd(
    data: bytes,
    block_size: int = 65536,
    content_size: bool = True,
    checksum: bool = True,
    single_segment: bool = False,
    rle: bool = True,
) -> bytes:
    """Independent zstd frame writer (the store/RLE subset — any
    raw/RLE block mix is spec-conformant output; the compressed paths
    are exercised by decoding libzstd's own frames in the tests):
    optional declared content size, optional xxh64-low32 checksum,
    single-segment or windowed headers, RLE blocks for byte runs."""
    data = bytes(data)
    block_size = max(1, min(block_size, 1 << 17))
    fhd = 0x04 if checksum else 0
    header = bytearray()
    if single_segment:
        fhd |= 0x20
        v = len(data)
        if v <= 255:
            fcs_flag, fcs = 0, struct.pack("<B", v)
        elif 256 <= v <= 65535 + 256:
            fcs_flag, fcs = 1, struct.pack("<H", v - 256)
        elif v < 1 << 32:
            fcs_flag, fcs = 2, struct.pack("<I", v)
        else:
            fcs_flag, fcs = 3, struct.pack("<Q", v)
        header += fcs  # single-segment frames always declare the size
        fhd |= fcs_flag << 6
    else:
        exp = max(0, (block_size - 1).bit_length() - 10)
        wd = exp << 3
        header.append(wd)
        if content_size:
            v = len(data)
            if 256 <= v <= 65535 + 256:
                fcs_flag, fcs = 1, struct.pack("<H", v - 256)
            elif v < 1 << 32:  # incl. v < 256: no 1-byte field without
                fcs_flag, fcs = 2, struct.pack("<I", v)  # single-segment
            else:
                fcs_flag, fcs = 3, struct.pack("<Q", v)
            header += fcs
            fhd |= fcs_flag << 6
    out = bytearray(struct.pack("<I", _FRAME_MAGIC))
    out.append(fhd)
    out += header
    chunks = [data[i : i + block_size]
              for i in range(0, len(data), block_size)] or [b""]
    for i, chunk in enumerate(chunks):
        last = 1 if i == len(chunks) - 1 else 0
        if rle and len(chunk) >= 2 and chunk.count(chunk[0]) == len(chunk):
            out += int.to_bytes(last | (1 << 1) | (len(chunk) << 3), 3,
                                "little")
            out.append(chunk[0])
        else:
            out += int.to_bytes(last | (0 << 1) | (len(chunk) << 3), 3,
                                "little")
            out += chunk
    if checksum:
        out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


JSONL_SCHEMA = "doc_id bigint, line_no int, line string"


def jsonl_zst_batches(batches):
    """Batch-iterator core of read_jsonl_zst (module-level so query
    synth stages can compose with it inside ONE mapInPandas pass —
    one Python-runner handshake, no JVM round trip of the payload)."""
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            content = decode_zstd(bytes(payload))
            if content is None:
                raise ValueError(
                    f"doc {doc_id}: corrupt or out-of-envelope "
                    "zstd shard"
                )
            if not content.endswith(b"\n"):
                raise ValueError(
                    f"doc {doc_id}: shard not newline-terminated"
                )
            try:
                text = content.decode("utf-8")
            except UnicodeDecodeError:
                raise ValueError(
                    f"doc {doc_id}: shard is not UTF-8"
                ) from None
            lines = text[:-1].split("\n")
            if any(not ln for ln in lines):
                raise ValueError(f"doc {doc_id}: empty jsonl line")
            rows.extend(
                (doc_id, i, ln) for i, ln in enumerate(lines)
            )
        pdf_out = pd.DataFrame(
            rows, columns=["doc_id", "line_no", "line"]
        )
        pdf_out["line_no"] = pdf_out["line_no"].astype("int32")
        yield pdf_out


def read_jsonl_zst(df):
    """``.jsonl.zst`` shard reader (the wire format modern LLM
    corpora actually ship in): one compressed shard row → one row per
    LINE with its 0-based line number; the decoded content must be
    UTF-8 and newline-TERMINATED (every line ends in \n, no empty
    lines — a half-written shard is corruption, not a short read).
    Record parsing stays JVM-side: callers apply from_json /
    get_json_object to the line column, so Catalyst owns the JSON
    path and this operator owns only decompression + framing.
    Malformed shards raise. Arrow-batched mapInPandas; compressed
    bytes never leave the executor."""
    return df.select("doc_id", "payload").mapInPandas(
        jsonl_zst_batches, schema=JSONL_SCHEMA
    )

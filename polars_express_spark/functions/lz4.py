"""LZ4 frames and blocks: frame headers parsed in Python, decoding by
liblz4 (pyarrow's bundled codec), plus writer twins and xxHash32.

LZ4 is the other compression data infrastructure runs: Kafka message
sets, Hadoop's Lz4Codec and bare ``.lz4`` files. Its two public
layouts are in lz4_Frame_format.md / lz4_Block_format.md of the
lz4/lz4 repository:

FRAME format — magic 0x184D2204 (u32le), FLG/BD descriptor bytes
(version 01, flags for block independence / block checksums / content
size / content checksum / DictID; reserved bits must be 0), an
optional u64le content size, and HC = (xxh32(descriptor) >> 8) & 0xFF;
then data blocks (u31le size with the high bit set meaning
UNCOMPRESSED, each optionally followed by its xxh32 block checksum),
the 0x00000000 EndMark, and an optional xxh32 of the whole
UNCOMPRESSED content.

BLOCK format — a sequence of [token | literal-length extension |
literals | u16le match offset | match-length extension], the last
sequence literals only; the format carries no length and no checksum.

What Python checks: the frame magic, a DictID frame (out of
envelope), a declared content size over ``max_output`` (before any
decoding), and the block size words adding up to exactly where the
frame ends (truncation and trailing bytes, a second frame included,
reject). What liblz4 checks: the version and reserved bits, the BD
block maximum, the header checksum, every present block and content
checksum, the declared content size against the output, linked-block
match windows, and every block's sequences (a match before the start,
a truncated sequence, a block not ending on the format's 5 trailing
literals). Output is read in chunks and capped at ``max_output``.
liblz4 does not reject a match with offset 0, which the format calls
invalid: such a match copies whatever the output buffer held, and a
content checksum computed over that output passes. So Python also
walks each compressed block's sequence headers (``_zero_offset``) and
rejects an offset-0 match before liblz4 runs; the walk reads only
tokens, length extensions and offsets, never decodes.

A bare block decodes by wrapping it in a constant frame header (block
independent, 4 MiB block maximum, no checksums) and an EndMark, so
liblz4 reports its real length: a block with more than 4 MiB of
output is out of envelope. Integrity: frames WITH checksums detect
every flip; bare blocks carry none, so callers add their own, as with
Snappy.

encode_lz4_block / encode_lz4_frame are the writer twins (literals
plus offset-1 run matches, any valid sequence mix being
spec-conformant; decode∘encode = id is the contract). xxh32 serves
them and Kafka's KIP-57 header-checksum rewrite.

Reference parity anchor: extends the reference's CSV-only ingest
(reference src/main.rs:41-52) like the other §2.10 ingestion tiers.
"""

from __future__ import annotations

import struct

from polars_express_spark.functions.libcodec import stream_decompress

_MAX_OUTPUT = 1 << 26  # the family-wide bomb cap

_P1 = 2654435761
_P2 = 2246822519
_P3 = 3266489917
_P4 = 668265263
_P5 = 374761393
_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 (the public reference algorithm; pinned against the
    canonical b'' → 0x02CC5D05 and b'Nobody inspects the spammish
    repetition' vectors in the property suite)."""
    data = bytes(data)
    n = len(data)
    pos = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        while pos + 16 <= n:
            a, b, c, d = struct.unpack_from("<IIII", data, pos)
            v1 = (_rotl((v1 + a * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl((v2 + b * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl((v3 + c * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl((v4 + d * _P2) & _M32, 13) * _P1) & _M32
            pos += 16
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while pos + 4 <= n:
        (k,) = struct.unpack_from("<I", data, pos)
        h = (_rotl((h + k * _P3) & _M32, 17) * _P4) & _M32
        pos += 4
    while pos < n:
        h = (_rotl((h + data[pos] * _P5) & _M32, 11) * _P1) & _M32
        pos += 1
    h ^= h >> 15
    h = (h * _P2) & _M32
    h ^= h >> 13
    h = (h * _P3) & _M32
    h ^= h >> 16
    return h


def _zero_offset(block: bytes) -> bool:
    """True if a match in this LZ4 block has offset 0. Only the
    sequence headers are read; a block whose lengths run past its end
    is left for liblz4 to reject."""
    pos, n = 0, len(block)
    while pos < n:
        token = block[pos]
        pos += 1
        lit = token >> 4
        if lit == 15:
            while pos < n:
                ext = block[pos]
                pos += 1
                lit += ext
                if ext != 255:
                    break
        pos += lit
        if pos + 2 > n:  # the last sequence is literals only
            return False
        if block[pos] == 0 and block[pos + 1] == 0:
            return True
        pos += 2
        if token & 15 == 15:
            while pos < n and block[pos] == 255:
                pos += 1
            pos += 1
    return False


def decompress_lz4_block(payload: bytes, max_output: int = _MAX_OUTPUT):
    """LZ4 block decompression: returns the uncompressed bytes or None
    on a malformed block (see the module docstring), an empty block
    (even empty content needs one literals-only token), a block or
    output over the 4 MiB frame maximum, or output past
    ``max_output``."""
    if not isinstance(payload, (bytes, bytearray, memoryview)):
        return None
    if not 0 < len(payload) <= _BLOCK_MAX or _zero_offset(payload):
        return None
    frame = (_BLOCK_FRAME_HEAD + struct.pack("<I", len(payload))
             + bytes(payload) + _END_MARK)
    return stream_decompress(frame, "lz4", max_output)


def encode_lz4_block(data: bytes, runs: bool = True) -> bytes:
    """Independent LZ4 block writer: literal sequences (with 255-run
    length extensions) and — when ``runs`` is on — byte runs of >= 12
    compressed as one literal plus an overlapping offset-1 match,
    ending on the spec-required literals-only last sequence."""
    data = bytes(data)
    out = bytearray()

    def token_len(v: int) -> bytes:
        if v < 15:
            return b""
        ext = bytearray()
        v -= 15
        while v >= 255:
            ext.append(255)
            v -= 255
        ext.append(v)
        return bytes(ext)

    pos = 0
    n = len(data)
    while True:
        run_end = pos
        if runs:
            while run_end < n and data[run_end] == data[pos]:
                run_end += 1
        # the spec's encoder-side parsing restrictions: the last match
        # starts >= 12 bytes before block end and the last 5 bytes are
        # literals — so cap the run and fall back to literals near EOF
        stop = min(run_end, n - 5)
        if runs and pos + 1 <= n - 12 and stop - pos - 1 >= 4:
            mlen = stop - pos - 1
            lit_b = data[pos : pos + 1]
            tok = (1 << 4) | min(mlen - 4, 15)
            out.append(tok)
            out += lit_b + b"\x01\x00" + token_len(mlen - 4)
            pos = stop
            continue
        chunk = data[pos:n]
        out.append((min(len(chunk), 15)) << 4)
        out += token_len(len(chunk)) + chunk
        return bytes(out)


_FRAME_MAGIC = 0x184D2204
_END_MARK = struct.pack("<I", 0)
_BLOCK_MAX = 1 << 22  # BD code 7: the largest block a frame allows
# FLG 0x60 (version 01, independent blocks, no checksums, no content
# size) and BD 0x70 (4 MiB block maximum): the frame a bare block is
# decoded in
_BLOCK_DESC = bytes([0x60, 0x70])
_BLOCK_FRAME_HEAD = (struct.pack("<I", _FRAME_MAGIC) + _BLOCK_DESC
                     + bytes([(xxh32(_BLOCK_DESC) >> 8) & 0xFF]))


def parse_lz4_frame(payload: bytes, max_output: int = _MAX_OUTPUT):
    """LZ4 frame decode: returns (content bytes, {"block_indep":
    bool, "block_checksums": bool, "content_size": int|None,
    "content_checksum": bool}) or None. The payload must be exactly
    one frame; see the module docstring for what is checked where.
    Block-LINKED frames (FLG independence bit clear, the lz4 CLI
    default) decode with the previous blocks as the match window;
    DictID frames and legacy frames are out of envelope."""
    if not isinstance(payload, (bytes, bytearray, memoryview)):
        return None
    payload = bytes(payload)
    n = len(payload)
    if n < 7 or struct.unpack_from("<I", payload, 0)[0] != _FRAME_MAGIC:
        return None
    flg = payload[4]
    if flg & 0x01:
        return None  # DictID: external dictionaries are out of envelope
    indep = bool(flg & 0x20)
    blk_cs = bool(flg & 0x10)
    has_size = bool(flg & 0x08)
    content_cs = bool(flg & 0x04)
    pos = 6
    content_size = None
    if has_size:
        if pos + 8 > n:
            return None
        (content_size,) = struct.unpack_from("<Q", payload, pos)
        pos += 8
        if content_size > max_output:
            return None  # bomb guard before any decoding
    pos += 1  # HC, verified by liblz4
    while True:  # walk the block size words to the EndMark
        if pos + 4 > n:
            return None
        (word,) = struct.unpack_from("<I", payload, pos)
        pos += 4
        if word == 0:
            break
        size = word & 0x7FFFFFFF
        if not word & 0x80000000 and _zero_offset(payload[pos : pos + size]):
            return None
        pos += size + (4 if blk_cs else 0)
    if pos + (4 if content_cs else 0) != n:
        return None  # truncated, or bytes after the frame
    content = stream_decompress(payload, "lz4", max_output)
    if content is None:
        return None
    return content, {
        "block_indep": indep,
        "block_checksums": blk_cs,
        "content_size": content_size,
        "content_checksum": content_cs,
    }


def encode_lz4_frame(
    data: bytes,
    block_size: int = 65536,
    block_checksums: bool = False,
    content_size: bool = True,
    content_checksum: bool = True,
    store_uncompressed: bool = False,
    linked: bool = False,
) -> bytes:
    """Independent LZ4 frame writer: version-01 descriptor (block
    independence set by default — each block compresses alone, the
    splittable form; ``linked=True`` clears it, declaring the CLI's
    block-linked mode — this writer's blocks are self-contained either
    way, which is valid linked output), optional content size /
    per-block and content xxh32 checksums, blocks of ``block_size``
    (``store_uncompressed`` forces the high-bit raw form), the
    EndMark."""
    data = bytes(data)
    flg = (0b01 << 6) | (0 if linked else 0x20)
    if block_checksums:
        flg |= 0x10
    if content_size:
        flg |= 0x08
    if content_checksum:
        flg |= 0x04
    # smallest BD code whose declared maximum covers block_size
    bd_code = next(
        (c for c in (4, 5, 6) if block_size <= 1 << (8 + 2 * c)), 7
    )
    if block_size > 1 << 22:
        raise ValueError("block_size exceeds the 4 MiB frame maximum")
    desc = bytes([flg, bd_code << 4])
    if content_size:
        desc += struct.pack("<Q", len(data))
    out = bytearray(struct.pack("<I", _FRAME_MAGIC) + desc)
    out.append((xxh32(desc) >> 8) & 0xFF)
    for at in range(0, len(data), block_size):
        chunk = data[at : at + block_size]
        comp = encode_lz4_block(chunk)
        if store_uncompressed or len(comp) >= len(chunk):
            out += struct.pack("<I", len(chunk) | 0x80000000) + chunk
            blk = chunk
        else:
            out += struct.pack("<I", len(comp)) + comp
            blk = comp
        if block_checksums:
            out += struct.pack("<I", xxh32(blk))
    out += struct.pack("<I", 0)
    if content_checksum:
        out += struct.pack("<I", xxh32(data))
    return bytes(out)


LZ4_SCHEMA = (
    "doc_id bigint, n_bytes bigint, bsum bigint, mean_b double, "
    "blk_cs boolean, csize bigint"
)


def lz4_content_batches(batches):
    """Batch-iterator core of read_lz4_content (module-level so query
    synth stages can compose with it inside ONE mapInPandas pass —
    one Python-runner handshake, no JVM round trip of the payload)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = parse_lz4_frame(bytes(payload))
            if parsed is None:
                raise ValueError(
                    f"doc {doc_id}: corrupt or out-of-envelope "
                    "LZ4 frame"
                )
            content, flags = parsed
            arr = np.frombuffer(content, dtype=np.uint8)
            rows.append(
                (doc_id, len(content),
                 int(arr.astype(np.int64).sum()) if arr.size else 0,
                 float(arr.mean()) if arr.size else 0.0,
                 flags["block_checksums"],
                 flags["content_size"]
                 if flags["content_size"] is not None else -1)
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_bytes", "bsum", "mean_b",
                     "blk_cs", "csize"],
        )


def read_lz4_content(df):
    """LZ4 frame extraction operator: one ``.lz4`` payload row →
    one row with exact content stats plus the frame's verified
    integrity posture (block-checksum flag, declared content size or
    -1). Malformed frames raise — parse_lz4_frame has already had
    liblz4 enforce every xxh32 layer (header byte, per-block,
    whole-content). Arrow-batched mapInPandas; frame bytes never
    leave the executor."""
    return df.select("doc_id", "payload").mapInPandas(
        lz4_content_batches, schema=LZ4_SCHEMA
    )

"""Raw Snappy: the preamble read in Python, decoding by libsnappy
(pyarrow's bundled codec), plus a writer twin.

Snappy is the compression real Avro/Parquet/Hadoop corpora use. The
RAW format (the one Avro's snappy codec, Hadoop's SnappyCodec block
stream and Kafka's xerial framing wrap) is described in
format_description.txt of the google/snappy repository:

    preamble: uvarint uncompressed length
    elements: literals and copies (1-, 2- or 4-byte offsets) that may
              overlap forward; offset 0 is malformed

What Python checks: the preamble is a well-formed uvarint under 2^32
and the declared length is at most ``max_output``, BEFORE anything is
allocated. libsnappy is then asked for exactly the declared length
and checks everything else: a truncated element, a copy reaching
before the start or at offset 0, and output shorter or longer than
declared (both the short and the trailing-input forms). The exact
length matters: given a larger output size, pyarrow zero-pads the
result instead of failing.

encode_snappy is the writer twin: spec-conformant output using
literals plus simple self-referential run copies (a compressor is
free to choose any valid element sequence; decode∘encode = id is the
contract, byte-identity with other compressors is not).

Integrity: raw Snappy carries NO checksum — wrappers add their own
(Avro appends a CRC-32 of the UNCOMPRESSED datum block; the Hadoop
block stream and the framing format carry lengths/CRCs). Flips inside
a raw block either break the structure (detected) or alter output
silently, like tar member data — the callers' checksums are the
detection layer, and parse-level guarantees are
no-crash/no-bomb/exact-length.

Reference parity anchor: extends the reference's CSV-only ingest
(reference src/main.rs:41-52) like the other §2.10 ingestion tiers.
"""

from __future__ import annotations

_MAX_OUTPUT = 1 << 26  # 64 MiB bomb cap, the family-wide precedent


def _read_uvarint(b: bytes, pos: int):
    """Little-endian base-128 varint (the preamble): (value, end_pos)
    or None on truncation / overlong (>5 bytes — Snappy lengths are
    32-bit)."""
    result = 0
    shift = 0
    for _ in range(5):
        if pos >= len(b):
            return None
        byte = b[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            if result >= 1 << 32:
                return None
            return result, pos
        shift += 7
    return None


def decompress_snappy(payload: bytes, max_output: int = _MAX_OUTPUT):
    """Raw-Snappy decompression: returns the uncompressed bytes or None
    on anything malformed — a bad preamble, a declared length past
    ``max_output`` (rejected BEFORE allocation), or anything libsnappy
    rejects (see the module docstring)."""
    if not isinstance(payload, (bytes, bytearray, memoryview)):
        return None
    payload = bytes(payload)
    r = _read_uvarint(payload, 0)
    if r is None:
        return None
    declared = r[0]
    if declared > max_output:
        return None  # bomb guard before any allocation
    import pyarrow as pa

    try:
        return pa.Codec("snappy").decompress(
            payload, decompressed_size=declared, asbytes=True
        )
    except (OSError, pa.ArrowException):
        return None


def encode_snappy(data: bytes, runs: bool = True) -> bytes:
    """Independent raw-Snappy writer: the uvarint preamble followed by
    literal elements (chunked at the 1-byte extended-length ceiling)
    — and, when ``runs`` is True, byte-run sequences of length >= 8
    compressed as a 1-byte literal plus overlapping offset-1 copies
    (the LZ77 run idiom every real compressor uses, exercising the
    overlap path). Any element mix is spec-valid; decode∘encode = id
    is the contract."""
    data = bytes(data)
    out = bytearray()
    ln = len(data)
    out += bytearray(
        [(ln >> (7 * i)) & 0x7F | (0x80 if ln >> (7 * (i + 1)) else 0)
         for i in range((max(ln, 1).bit_length() + 6) // 7)]
    )

    def literal(chunk: bytes) -> bytes:
        if not chunk:
            return b""
        m = len(chunk) - 1
        if m < 60:
            return bytes([m << 2]) + chunk
        return bytes([60 << 2 | 0, m & 0xFF]) + chunk  # 1 length byte

    pos = 0
    while pos < ln:
        if runs:
            run_end = pos
            while (run_end < ln and run_end - pos < 64 + 4
                   and data[run_end] == data[pos]):
                run_end += 1
            if run_end - pos >= 8:
                out += literal(data[pos : pos + 1])
                rem = run_end - pos - 1
                while rem:
                    step = min(rem, 64)
                    if step < 4:
                        out += literal(
                            data[pos + 1 : pos + 1 + step]
                        )  # tail shorter than a copy's minimum
                    else:
                        # tag 10: 2-byte offset form, offset 1 overlaps
                        out += bytes([((step - 1) << 2) | 2, 1, 0])
                    rem -= step
                pos = run_end
                continue
        step = min(256, ln - pos)
        out += literal(data[pos : pos + step])
        pos += step
    return bytes(out)

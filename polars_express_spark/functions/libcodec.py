"""Bounded stream decompression through the codec libraries pyarrow
bundles (libzstd, liblz4).

zstd.py and lz4.py parse their container headers in Python and hand
the whole buffer to ``stream_decompress``; the library does the
entropy decoding and every check inside the frames. pyarrow is
imported on first use, so importing a codec module stays cheap on the
driver.
"""

from __future__ import annotations

# Read size: large enough that a multi-MiB output takes few calls,
# small enough that a tiny payload does not allocate the whole cap.
_CHUNK = 1 << 20


def stream_decompress(buf: bytes, codec: str, max_output: int):
    """Decode ``buf`` with pyarrow's ``codec`` input stream ("zstd", or
    "lz4" for the LZ4 frame format; concatenated frames decode in
    sequence). Returns the bytes, or None when the library rejects the
    input or the output grows past ``max_output``. Reading stops at
    ``max_output + 1`` bytes, so a bomb is never inflated further."""
    import pyarrow as pa

    out = bytearray()
    try:
        with pa.CompressedInputStream(pa.BufferReader(buf), codec) as s:
            while len(out) <= max_output:
                chunk = s.read(min(_CHUNK, max_output + 1 - len(out)))
                if not chunk:
                    return bytes(out)
                out += chunk
    except (OSError, pa.ArrowException):
        return None
    return None

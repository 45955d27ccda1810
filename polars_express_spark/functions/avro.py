"""Avro object-container reader/writer (SURVEY.md §2.10 ingestion
tier, r16).

The most-used data-engineering container family still missing from the
archive ladder (WARC/zip/tar/TFRecord): Kafka-adjacent and Hive-era
corpora ship as ``.avro`` object-container files. The container layer
is pure struct math per the public Avro 1.x spec:

    Obj\\x01                                    4-byte magic
    file metadata                               an Avro map<bytes>
    sync marker                                 16 bytes
    repeat >=1: count (long) | size (long) | serialized objects
               (after codec) | sync marker (must equal the header's)

Longs are zigzag varints (``zigzag(n) = (n << 1) ^ (n >> 63)``, then
little-endian base-128 groups with a continuation bit, at most 10
bytes). The metadata map must carry ``avro.schema`` (JSON); the
optional ``avro.codec`` may be ``null`` (default), ``deflate`` — RAW
RFC-1951 deflate, no zlib header, no checksum — inflated through the
capped-inflate bomb guard (the zip/WARC precedent; a bomb rejects,
never allocates), or ``snappy`` — raw Snappy through functions/
snappy.py (libsnappy), each block followed per spec by the
4-byte big-endian CRC32 of the UNCOMPRESSED data, verified (so snappy
blocks, unlike deflate, detect every flip), or ``zstandard``
— one RFC 8878 frame per block via functions/zstd.py (libzstd; frames
carrying the checksum flag detect every flip). Other codecs (xz,
bzip2) stay out of envelope.

Record-body decode is schema-driven; the schema JSON lives IN the
file metadata (Avro containers are self-describing — no external
registry). In envelope: the two bare primitive schemas (``"bytes"``
and ``"string"`` — each datum a long length + payload, string
payloads valid UTF-8); ``"type": "record"`` schemas over the seven
self-delimiting primitives (long/int/double/float/boolean/string/
bytes — zigzag varints, IEEE-754 LE fixed widths, a strict 0/1
boolean byte, length-prefixed payloads) with the two-branch nullable
union ["null", X] in both orders (null decodes to AVRO_NULL); and
(r18) the full complex-type set — arrays and maps (block sequences
with the negative-count-plus-size form verified exactly), enums
(index into the declared symbols), fixed, nested records, and
nullable unions over any of these — to a schema depth of 4, which
also bounds data nesting (no depth bomb is decodable). Logical-type
annotations (timestamp-micros, decimal, ...) keep the raw layout and
decode as their underlying type. Named-type REFERENCES (r18)
resolve to already-defined records/enums/fixed — including
namespace-qualified names — so the define-once-reference-many
schemas real Hive/Kafka pipelines write parse whole (definitions
register on completion, so SELF- and forward-references, i.e.
recursive schemas, stay gated, which keeps data nesting finite).
Unions (r18) take 2-8 branches of any in-envelope non-union types
(at most one per unnamed kind, per the spec's resolution rule);
values from non-classic unions decode tagged as AvroBranch(index,
value) because the branch index IS part of the wire value, while
the ubiquitous two-branch nullable form keeps its untagged r17
shape. Deeper nesting stays out of envelope (None).

Integrity honesty (SURVEY §2.10 asymmetry): Avro itself carries NO
data checksum. The sync markers and the varint framing detect
structural damage (a flipped sync byte, a lying block size, a
truncated block), and they are exactly what makes a 100 TB ``.avro``
corpus executor-splittable (a reader seeks to the next sync to align)
— but a bit flip inside a null-codec record body silently alters that
record, like tar member data; deflate-codec flips usually break the
stream but carry no guarantee. The EXCEPTION is the snappy codec,
whose spec-mandated per-block CRC32 of the uncompressed data makes
every flip DETECTED. parse_avro therefore promises no-crash/no-bomb
and exact framing for null/deflate, plus flip detection for
snappy.

Reference parity anchor: extends the reference's CSV-only ingest
(reference src/main.rs:41-52) like the other §2.10 ingestion tiers.
"""

from __future__ import annotations

import json
import zlib
from typing import NamedTuple

_MAGIC = b"Obj\x01"
_MAX_INFLATE = 1 << 26  # total decompressed cap across all blocks
_SYNC_DEFAULT = bytes(range(0xA0, 0xB0))  # deterministic writer marker


def _read_long(b: bytes, pos: int):
    """Read a zigzag-varint Avro long: returns (value, end_pos) or None
    on truncation / overlong form (>10 bytes or bits past 64)."""
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
                return None  # overflows a 64-bit long
            return (result >> 1) ^ -(result & 1), pos
        shift += 7
    return None  # 10 continuation bytes: overlong


def _w_long(n: int) -> bytes:
    """Minimal zigzag-varint encoding of a signed 64-bit long."""
    if not -(1 << 63) <= n < 1 << 63:
        raise ValueError("out of range for an Avro long")
    z = ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)
    out = bytearray()
    while True:
        if z < 0x80:
            out.append(z)
            return bytes(out)
        out.append((z & 0x7F) | 0x80)
        z >>= 7


def _read_sized(b: bytes, pos: int):
    """Read a length-prefixed byte datum (the bytes/string layout):
    returns (payload_slice, end_pos) or None."""
    r = _read_long(b, pos)
    if r is None:
        return None
    ln, pos = r
    if ln < 0 or ln > len(b) - pos:
        return None
    return b[pos : pos + ln], pos + ln


def _parse_meta_map(payload: bytes, pos: int):
    """Walk the file-metadata map (an Avro map<bytes>): returns
    ({key: value_bytes}, end_pos) or None. Both the positive-count and
    the negative-count-with-block-size forms parse (the latter's
    declared byte size must match exactly); duplicate keys are
    malformed (strict posture — the spec gives them no meaning)."""
    meta: dict[str, bytes] = {}
    while True:
        r = _read_long(payload, pos)
        if r is None:
            return None
        count, pos = r
        if count == 0:
            return meta, pos
        declared_size = None
        if count < 0:
            count = -count
            r = _read_long(payload, pos)
            if r is None:
                return None
            declared_size, pos = r
            if declared_size < 0 or declared_size > len(payload) - pos:
                return None
        if count > len(payload) - pos:
            return None  # each entry needs >=2 bytes; cheap bomb bound
        block_start = pos
        for _ in range(count):
            r = _read_sized(payload, pos)
            if r is None:
                return None
            key_b, pos = r
            try:
                key = key_b.decode("utf-8")
            except UnicodeDecodeError:
                return None
            r = _read_sized(payload, pos)
            if r is None:
                return None
            val, pos = r
            if key in meta:
                return None
            meta[key] = val
        if declared_size is not None and pos - block_start != declared_size:
            return None


_REC_PRIMS = ("long", "int", "double", "float", "boolean", "string",
              "bytes")

# Avro null decodes to the shared sentinel so Python None stays the
# parse-error signal (the CBOR/MessagePack convention)
from polars_express_spark.functions.cbor import CBOR_NULL as AVRO_NULL  # noqa: E402


_MAX_SCHEMA_DEPTH = 4  # bounds data nesting too: data can't out-nest
#                        its schema, so no depth bomb is decodable


class AvroBranch(NamedTuple):
    """A value decoded from a union OTHER than the classic two-branch
    nullable form: the branch index is part of the wire value, so it
    ships alongside (r18 — multi-branch unions). Null branches decode
    to the plain AVRO_NULL sentinel (null is unambiguous)."""

    index: int
    value: object


def _register_name(names, t: dict, descr):
    """Register a named type (record/enum/fixed) for later REFERENCE
    resolution: under its literal name, its namespace-qualified form,
    and its own dotted fullname. Redefining a name is malformed per
    spec → False."""
    if names is None:
        return True
    name = t.get("name")
    keys = {name}
    ns = t.get("namespace")
    if isinstance(ns, str) and ns and "." not in name:
        keys.add(f"{ns}.{name}")
    for k in keys:
        if k in names:
            return False
        names[k] = descr
    return True


def _union_descr(ftype, depth: int = 0, names=None):
    """A type given as a JSON list: an Avro union of 2-8 branches,
    each 'null' or any in-envelope NON-union type (the spec forbids
    immediate union nesting), with at most one null, no duplicate
    branch descriptors, and at most one branch per UNNAMED kind
    (primitives/array/map — the spec's resolution rule; named types
    may repeat with different definitions). The classic two-branch
    nullable-primitive case keeps the r17 order-preserving string
    descriptor 'null|long' / 'long|null'; everything else gets
    ('union', (branch, ...))."""
    if not isinstance(ftype, list) or not 2 <= len(ftype) <= 8:
        return None
    branches = []
    kinds = []
    for b in ftype:
        if b == "null":
            d = "null"
        else:
            # a union adds no layout nesting (same depth)
            d = _type_descr(b, depth, names)
            if d is None or (
                isinstance(d, tuple) and d[0] == "union"
            ) or (isinstance(d, str) and "|" in d):
                return None
        branches.append(d)
        kinds.append(d if isinstance(d, str) else d[0])
    if len(set(map(repr, branches))) != len(branches):
        return None  # exact duplicate branches are meaningless
    for kd in ("null", *_REC_PRIMS, "array", "map"):
        if kinds.count(kd) > 1:
            return None
    if len(branches) == 2 and "null" in branches:
        other = branches[1] if branches[0] == "null" else branches[0]
        if isinstance(other, str):
            return "|".join(branches)
    return "union", tuple(branches)


def _type_descr(t, depth: int = 0, names=None):
    """Resolve one Avro type JSON to an in-envelope descriptor
    (r18 — the full complex-type set): a primitive string; a
    'null|prim' nullable-union string; or a tuple —
    ('array', items), ('map', values), ('enum', (symbols...)),
    ('fixed', size), ('record', ((name, descr), ...)),
    ('union', (branch, ...)). The {"type": ...} wrapper spelling and
    layout-preserving logicalType annotations are accepted (decoded
    as the underlying type). Named-type REFERENCES (r18) resolve to
    ALREADY-DEFINED records/enums/fixed via ``names`` (definitions
    register on completion, so self- and forward-references — i.e.
    recursive schemas — stay out of envelope, which also keeps data
    nesting finite); nesting past _MAX_SCHEMA_DEPTH is out of
    envelope → None."""
    if depth > _MAX_SCHEMA_DEPTH:
        return None
    if isinstance(t, str):
        if t in _REC_PRIMS:
            return t
        if names and t in names:
            return names[t]  # a reference to an already-defined type
        return None
    if isinstance(t, list):
        return _union_descr(t, depth, names)
    if not isinstance(t, dict):
        return None
    tt = t.get("type")
    if isinstance(tt, (dict, list)):
        return _type_descr(tt, depth, names)  # the {"type": ...} wrap
    if tt in _REC_PRIMS:
        return tt  # logicalType annotations keep the raw layout
    if tt == "array":
        items = _type_descr(t.get("items"), depth + 1, names)
        return None if items is None else ("array", items)
    if tt == "map":
        values = _type_descr(t.get("values"), depth + 1, names)
        return None if values is None else ("map", values)
    if tt == "enum":
        name = t.get("name")
        symbols = t.get("symbols")
        if (not isinstance(name, str) or not name
                or not isinstance(symbols, list) or not symbols
                or any(not isinstance(s, str) or not s for s in symbols)
                or len(set(symbols)) != len(symbols)):
            return None
        descr = ("enum", tuple(symbols))
        return descr if _register_name(names, t, descr) else None
    if tt == "fixed":
        name = t.get("name")
        size = t.get("size")
        if (not isinstance(name, str) or not name
                or not isinstance(size, int) or isinstance(size, bool)
                or not 0 <= size <= _MAX_INFLATE):
            return None
        descr = ("fixed", size)
        return descr if _register_name(names, t, descr) else None
    if tt == "record":
        return _record_descr(t, depth, names)
    return None


def _record_descr(s: dict, depth: int = 0, names=None):
    """A {"type": "record"} schema object to ('record', fields):
    requires a name and >= 1 uniquely named fields, each field type
    resolved by _type_descr; registers the completed record for
    later references."""
    name = s.get("name")
    if not isinstance(name, str) or not name:
        return None  # the spec requires a record name
    flds = s.get("fields")
    if not isinstance(flds, list) or not flds:
        return None
    fields = []
    seen = set()
    for f in flds:
        if not isinstance(f, dict):
            return None
        fname = f.get("name")
        ftype = _type_descr(f.get("type"), depth + 1, names)
        if ftype is None:
            return None
        if not isinstance(fname, str) or not fname or fname in seen:
            return None
        seen.add(fname)
        fields.append((fname, ftype))
    descr = ("record", tuple(fields))
    return descr if _register_name(names, s, descr) else None


def _schema_descr(schema_json: bytes):
    """Resolve the avro.schema JSON to an in-envelope descriptor:
    'bytes' / 'string' (bare primitive schemas, both the bare-string
    and the {"type": ...} spellings), or ('record', ((field_name,
    field_descr), ...)) for a named record whose fields are the seven
    flat primitives, nullable unions, or (r18) the full complex-type
    set — arrays, maps, enums, fixed, and nested records to
    _MAX_SCHEMA_DEPTH (all self-delimiting per the public spec, so
    decode needs no external registry). Logical types that keep the
    raw layout are annotations; named-type references, wider unions,
    and deeper nesting stay out of envelope → None."""
    try:
        s = json.loads(schema_json.decode("utf-8"))
    except (UnicodeDecodeError, ValueError):
        return None
    if isinstance(s, str):
        return s if s in ("bytes", "string") else None
    if not isinstance(s, dict):
        return None
    t = s.get("type")
    if t in ("bytes", "string"):
        return t
    if t != "record":
        return None
    return _record_descr(s, 0, {})


def _read_datum(data: bytes, pos: int, ftype: str, budget=None):
    """Decode one primitive datum at ``pos`` per the Avro binary
    encoding: returns (value, end_pos) or None. All seven in-envelope
    primitives are self-delimiting — zigzag varints (long/int, the int
    range-checked to 32 bits), IEEE-754 little-endian fixed widths
    (float/double), a strict 0/1 byte (boolean), and length-prefixed
    payloads (bytes/string, string UTF-8-validated). A nullable-union
    descriptor ('null|prim' / 'prim|null') reads the zigzag branch
    index first — 0 or 1 only — then null (the AVRO_NULL sentinel) or
    the primitive by the schema's branch order.

    Tuple descriptors (r18) decode the complex types, all
    self-delimiting per the spec: arrays and maps as block sequences
    (count, negative count with a byte size that must match exactly,
    a zero-count terminator; map keys are UTF-8 strings, duplicates
    malformed), enums as a zigzag index into the symbol list, fixed
    as exactly ``size`` raw bytes, nested records field by field,
    and ('union', ...) as branch index then branch datum. Data
    nesting is bounded by the schema's own depth (<= 4), so no depth
    bomb is decodable.

    Array items of a zero-width type (see _min_datum_width) pack any
    count into no bytes, so their count is charged to ``budget`` — a
    one-element list of items still allowed, shared by every nested
    call — rather than checked against the bytes left; a lying count
    can then never allocate past _MAX_INFLATE items in one decode.
    Such a block decodes one item and repeats it, so its cost is one
    list extension rather than one decode per item; the items of a
    zero-width record array are therefore one shared dict. Decoded
    values are read-only: avro_record_batches and avro_field_batches
    only read them."""
    import struct

    if budget is None:
        budget = [_MAX_INFLATE]
    if isinstance(ftype, tuple):
        kind = ftype[0]
        if kind == "union":
            branches = ftype[1]
            r = _read_long(data, pos)
            if r is None:
                return None
            idx, pos = r
            if not 0 <= idx < len(branches):
                return None
            branch = branches[idx]
            if branch == "null":
                return AVRO_NULL, pos
            r = _read_datum(data, pos, branch, budget)
            if r is None:
                return None
            v, pos = r
            # the classic two-branch nullable form stays untagged
            # (r17/r18 compat); wider unions tag the branch — it IS
            # part of the wire value
            if len(branches) == 2 and "null" in branches:
                return v, pos
            return AvroBranch(idx, v), pos
        if kind in ("array", "map"):
            inner = ftype[1]
            out_l: list = []
            out_m: dict = {}
            zero_width = kind == "array" and _min_datum_width(inner) == 0
            while True:
                r = _read_long(data, pos)
                if r is None:
                    return None
                count, pos = r
                if count == 0:
                    return (out_m if kind == "map" else out_l), pos
                declared = None
                if count < 0:
                    count = -count
                    r = _read_long(data, pos)
                    if r is None:
                        return None
                    declared, pos = r
                    if declared < 0 or declared > len(data) - pos:
                        return None
                if zero_width:
                    if count > budget[0]:
                        return None
                    budget[0] -= count
                    # every item decodes to the same value from no bytes:
                    # decode one, repeat it, and skip the per-item loop
                    r = _read_datum(data, pos, inner, budget)
                    if r is None or r[1] != pos:
                        return None
                    out_l.extend([r[0]] * count)
                    count = 0
                elif count > len(data) - pos:
                    return None  # every item needs >= 1 byte
                block_start = pos
                for _ in range(count):
                    if kind == "map":
                        r = _read_sized(data, pos)
                        if r is None:
                            return None
                        key_b, pos = r
                        try:
                            key = key_b.decode("utf-8")
                        except UnicodeDecodeError:
                            return None
                        if key in out_m:
                            return None  # strict: duplicate map keys
                        r = _read_datum(data, pos, inner, budget)
                        if r is None:
                            return None
                        out_m[key], pos = r
                    else:
                        r = _read_datum(data, pos, inner, budget)
                        if r is None:
                            return None
                        v, pos = r
                        out_l.append(v)
                if declared is not None and pos - block_start != declared:
                    return None  # the block's byte size must be honest
        if kind == "enum":
            r = _read_long(data, pos)
            if r is None:
                return None
            idx, pos = r
            if not 0 <= idx < len(ftype[1]):
                return None
            return ftype[1][idx], pos
        if kind == "fixed":
            size = ftype[1]
            if pos + size > len(data):
                return None
            return data[pos : pos + size], pos + size
        if kind == "record":
            rec = {}
            for fname, fdescr in ftype[1]:
                r = _read_datum(data, pos, fdescr, budget)
                if r is None:
                    return None
                rec[fname], pos = r
            return rec, pos
        return None
    if "|" in ftype:
        branches = ftype.split("|")
        r = _read_long(data, pos)
        if r is None:
            return None
        idx, pos = r
        if idx not in (0, 1):
            return None
        if branches[idx] == "null":
            return AVRO_NULL, pos
        return _read_datum(data, pos, branches[idx], budget)
    if ftype in ("bytes", "string"):
        r = _read_sized(data, pos)
        if r is None:
            return None
        raw, pos = r
        if ftype == "string":
            try:
                return raw.decode("utf-8"), pos
            except UnicodeDecodeError:
                return None
        return raw, pos
    if ftype in ("long", "int"):
        r = _read_long(data, pos)
        if r is None:
            return None
        v, pos = r
        if ftype == "int" and not -(1 << 31) <= v < 1 << 31:
            return None  # int is a 32-bit value by spec
        return v, pos
    if ftype == "double":
        if pos + 8 > len(data):
            return None
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if ftype == "float":
        if pos + 4 > len(data):
            return None
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    # boolean: exactly one byte, 0 or 1 (strict posture)
    if pos >= len(data) or data[pos] > 1:
        return None
    return bool(data[pos]), pos + 1


def _w_datum(value, ftype: str) -> bytes:
    """Binary-encode one primitive datum (the writer twin of
    _read_datum); raises ValueError on a value outside the type. For
    a nullable union, None and AVRO_NULL both write the null branch;
    anything else writes the primitive branch (each prefixed by its
    zigzag branch index in the schema's order). Tuple descriptors
    (r18) write the complex types: arrays/maps as one block plus the
    zero terminator, enums by symbol, fixed with an exact length
    check, nested records from dicts, unions by null-ness."""
    import struct

    if isinstance(ftype, tuple):
        kind = ftype[0]
        if kind == "union":
            branches = ftype[1]
            if isinstance(value, AvroBranch):
                if not 0 <= value.index < len(branches):
                    raise ValueError("union branch index out of range")
                branch = branches[value.index]
                if branch == "null":
                    return _w_long(value.index)
                return _w_long(value.index) + _w_datum(value.value,
                                                       branch)
            is_null = value is None or value is AVRO_NULL or isinstance(
                value, type(AVRO_NULL)
            )
            if is_null:
                return _w_long(branches.index("null"))
            non_null = [i for i, b in enumerate(branches)
                        if b != "null"]
            if len(non_null) != 1:
                raise ValueError(
                    "ambiguous union value — wrap it in AvroBranch"
                )
            idx = non_null[0]
            return _w_long(idx) + _w_datum(value, branches[idx])
        if kind == "array":
            items = list(value)
            out = bytearray()
            if items:
                out += _w_long(len(items))
                for v in items:
                    out += _w_datum(v, ftype[1])
            out += _w_long(0)
            return bytes(out)
        if kind == "map":
            out = bytearray()
            if value:
                out += _w_long(len(value))
                for k, v in value.items():
                    kb = str(k).encode("utf-8")
                    out += _w_long(len(kb)) + kb + _w_datum(v, ftype[1])
            out += _w_long(0)
            return bytes(out)
        if kind == "enum":
            if value not in ftype[1]:
                raise ValueError(f"{value!r} not an enum symbol")
            return _w_long(ftype[1].index(value))
        if kind == "fixed":
            raw = bytes(value)
            if len(raw) != ftype[1]:
                raise ValueError("fixed datum length mismatch")
            return raw
        if kind == "record":
            if set(value) != {n for n, _ in ftype[1]}:
                raise ValueError("record keys must match the schema")
            out = bytearray()
            for fname, fdescr in ftype[1]:
                out += _w_datum(value[fname], fdescr)
            return bytes(out)
        raise ValueError(f"unsupported descriptor {ftype!r}")
    if "|" in ftype:
        branches = ftype.split("|")
        if value is None or value is AVRO_NULL or isinstance(
            value, type(AVRO_NULL)
        ):
            return _w_long(branches.index("null"))
        prim = branches[1 - branches.index("null")]
        return _w_long(branches.index(prim)) + _w_datum(value, prim)
    if ftype == "bytes":
        value = bytes(value)
        return _w_long(len(value)) + value
    if ftype == "string":
        raw = str(value).encode("utf-8")
        return _w_long(len(raw)) + raw
    if ftype in ("long", "int"):
        v = int(value)
        if ftype == "int" and not -(1 << 31) <= v < 1 << 31:
            raise ValueError("out of range for an Avro int")
        return _w_long(v)
    if ftype == "double":
        return struct.pack("<d", float(value))
    if ftype == "float":
        return struct.pack("<f", float(value))
    if ftype == "boolean":
        return b"\x01" if value else b"\x00"
    raise ValueError(f"unsupported field type {ftype!r}")


def _descr_json(d, names: list):
    """Descriptor → Avro schema JSON value (the writer-side inverse of
    _type_descr); ``names`` allocates unique named-type names."""
    if isinstance(d, str):
        return d.split("|") if "|" in d else d
    kind = d[0]
    if kind == "array":
        return {"type": "array", "items": _descr_json(d[1], names)}
    if kind == "map":
        return {"type": "map", "values": _descr_json(d[1], names)}
    if kind == "enum":
        names.append(f"E{len(names)}")
        return {"type": "enum", "name": names[-1], "symbols": list(d[1])}
    if kind == "fixed":
        names.append(f"F{len(names)}")
        return {"type": "fixed", "name": names[-1], "size": d[1]}
    if kind == "record":
        names.append(f"N{len(names)}")
        return {"type": "record", "name": names[-1],
                "fields": [{"name": n, "type": _descr_json(t, names)}
                           for n, t in d[1]]}
    if kind == "union":
        return ["null" if b == "null" else _descr_json(b, names)
                for b in d[1]]
    raise ValueError(f"unsupported descriptor {d!r}")


def _min_datum_width(descr) -> int:
    """Smallest number of bytes a datum of this type can occupy on the
    wire. Zero only for bare null, zero-size fixed, and records
    composed entirely of those — every other shape writes at least one
    byte (a varint/bool/length byte, an enum or union branch index, an
    array/map zero-count terminator). Descriptor trees are finite
    (references only to already-defined names, depth-capped), so the
    recursion terminates."""
    if isinstance(descr, str):
        return 0 if descr == "null" else 1
    kind = descr[0]
    if kind == "fixed":
        return descr[1]
    if kind == "record":
        return sum(_min_datum_width(t) for _, t in descr[1])
    return 1


def parse_avro(payload: bytes):
    """REAL Avro object-container parse: returns
    (codec, schema, sync_marker, [[datum, ...], ...]) — one inner list
    per data block, so the block framing itself is an observable
    output — or None. ``schema`` is 'bytes'/'string' (datums are raw
    bytes) or ('record', fields) (each datum a {field: value} dict
    decoded by _read_datum).
    The metadata map, every block's count/size framing, every sync
    marker (all must equal the header's), and every datum length are
    verified; blocks must contain exactly ``count`` datums consuming
    exactly the block's decompressed bytes; string datums must be
    valid UTF-8. Deflate blocks inflate through a shared 64 MiB cap
    (bomb guard BEFORE allocation scales with the attacker's count).
    Truncation anywhere, trailing bytes after the last sync, or a
    header-only file (the spec requires >=1 data block) → None."""
    n = len(payload)
    if n < 4 + 2 + 16 or payload[:4] != _MAGIC:
        return None
    r = _parse_meta_map(payload, 4)
    if r is None:
        return None
    meta, pos = r
    if "avro.schema" not in meta:
        return None
    schema = _schema_descr(meta["avro.schema"])
    if schema is None:
        return None
    fields = schema[1] if isinstance(schema, tuple) else None
    codec = meta.get("avro.codec", b"null").decode("latin-1")
    if codec not in ("null", "deflate", "snappy", "zstandard"):
        return None
    if pos + 16 > n:
        return None
    sync = payload[pos : pos + 16]
    pos += 16
    blocks: list[list[bytes]] = []
    total_inflated = 0
    while pos < n:
        r = _read_long(payload, pos)
        if r is None:
            return None
        count, pos = r
        r = _read_long(payload, pos)
        if r is None:
            return None
        size, pos = r
        if count < 1 or size < 0 or size > n - pos - 16:
            return None  # empty/negative block or truncated body+sync
        raw = payload[pos : pos + size]
        pos += size
        if codec == "deflate":
            cap = _MAX_INFLATE - total_inflated
            d = zlib.decompressobj(-15)
            try:
                data = d.decompress(raw, cap + 1)
            except zlib.error:
                return None
            if (len(data) > cap or not d.eof or d.unconsumed_tail
                    or d.unused_data):
                return None
        elif codec == "snappy":
            # per the Avro spec each snappy block is FOLLOWED by the
            # 4-byte big-endian CRC32 of the UNCOMPRESSED data — so
            # unlike deflate, snappy-codec blocks get real flip
            # DETECTION
            from polars_express_spark.functions.snappy import (
                decompress_snappy,
            )

            if size < 4:
                return None
            data = decompress_snappy(
                raw[:-4], _MAX_INFLATE - total_inflated
            )
            if data is None:
                return None
            if zlib.crc32(data) != int.from_bytes(raw[-4:], "big"):
                return None
        elif codec == "zstandard":
            # per the Avro spec each block is one zstd frame, no extra
            # CRC — frames with the checksum flag self-verify (libzstd
            # checks it)
            from polars_express_spark.functions.zstd import decode_zstd

            data = decode_zstd(raw, _MAX_INFLATE - total_inflated)
            if data is None:
                return None
        else:
            if size > _MAX_INFLATE - total_inflated:
                return None
            data = raw
        total_inflated += len(data)
        zero_width = fields is not None and _min_datum_width(schema) == 0
        if count > len(data):
            # a record schema can be ZERO-width on the wire (fixed size
            # 0, or a record of only such fields / bare nulls), so any
            # count legally packs into zero bytes. For zero-width
            # schemas bound the ALLOCATION instead: charge one byte of
            # the shared inflate budget per datum, so a lying count can
            # never allocate past the same 64 MiB cap everything else
            # obeys.
            if not zero_width:
                return None
            if count > _MAX_INFLATE - total_inflated:
                return None
            total_inflated += count
        q = 0
        block: list = []
        # zero-width array items draw on the same shared budget
        budget = [_MAX_INFLATE - total_inflated]
        if zero_width:
            # every datum decodes to the same record from no bytes:
            # decode one, repeat it, and skip the per-datum loop
            r = _read_datum(data, q, schema, budget)
            if r is None or r[1] != q:
                return None
            block.extend([r[0]] * count)
            count = 0
        for _ in range(count):
            if fields is not None:
                r = _read_datum(data, q, schema, budget)
                if r is None:
                    return None
                rec, q = r
                block.append(rec)
                continue
            r = _read_sized(data, q)
            if r is None:
                return None
            datum, q = r
            if schema == "string":
                try:
                    datum.decode("utf-8")
                except UnicodeDecodeError:
                    return None
            block.append(datum)
        total_inflated = _MAX_INFLATE - budget[0]
        if q != len(data):
            return None  # block must consume exactly its declared bytes
        if payload[pos : pos + 16] != sync:
            return None
        pos += 16
        blocks.append(block)
    if not blocks:
        return None  # the spec requires >=1 data block
    return codec, schema, sync, blocks


def encode_avro(
    records,
    codec: str = "null",
    schema: str = "bytes",
    sync: bytes = _SYNC_DEFAULT,
    objects_per_block: int = 0,
) -> bytes:
    """Independent Avro object-container writer: ``records`` is a list
    of bytes datums (must be valid UTF-8 when ``schema='string'``) —
    or, when ``schema`` is a list/tuple of (field_name, field_type)
    pairs, a list of {field: value} dicts encoded as a flat-primitive
    record schema (the metadata JSON gets the canonical
    {"type": "record", "name": "R", "fields": [...]} spelling).
    Datums are grouped ``objects_per_block`` per data block (0 → one
    block), each block deflated when ``codec='deflate'`` (raw
    RFC-1951) and terminated by the 16-byte ``sync`` marker."""
    if codec not in ("null", "deflate", "snappy", "zstandard"):
        raise ValueError(
            "codec must be 'null', 'deflate', 'snappy', or 'zstandard'"
        )
    fields = None
    if isinstance(schema, (list, tuple)):
        fields = [(str(n), t if isinstance(t, tuple) else str(t))
                  for n, t in schema]
        if not fields:
            raise ValueError("a record schema needs fields")
        names: list = []
        schema_json = json.dumps(
            {"type": "record", "name": "R",
             "fields": [{"name": n, "type": _descr_json(t, names)}
                        for n, t in fields]}
        ).encode()
        # round-trip the generated JSON through the reader-side
        # resolver: guarantees the writer only emits in-envelope
        # schemas and validates primitive/union strings in one place
        if _schema_descr(schema_json) != ("record", tuple(fields)):
            raise ValueError(
                "record fields must be primitives, 'null|prim' "
                "unions, or in-envelope complex-type descriptors"
            )
    elif schema in ("bytes", "string"):
        schema_json = json.dumps(schema).encode()
    else:
        raise ValueError(
            "schema must be 'bytes', 'string', or record field pairs"
        )
    if len(sync) != 16:
        raise ValueError("sync marker is 16 bytes")
    if not records:
        raise ValueError("the spec requires at least one data block")
    meta = [(b"avro.schema", schema_json),
            (b"avro.codec", codec.encode())]
    out = bytearray(_MAGIC)
    out += _w_long(len(meta))
    for k, v in meta:
        out += _w_long(len(k)) + k + _w_long(len(v)) + v
    out += _w_long(0)
    out += sync
    step = objects_per_block if objects_per_block > 0 else len(records)
    for at in range(0, len(records), step):
        chunk = records[at : at + step]
        data = bytearray()
        for rec in chunk:
            if fields is not None:
                if set(rec) != {n for n, _ in fields}:
                    raise ValueError("record keys must match the schema")
                for n, t in fields:
                    data += _w_datum(rec[n], t)
                continue
            rec = bytes(rec)
            if schema == "string":
                rec.decode("utf-8")  # raises on a non-UTF-8 string datum
            data += _w_long(len(rec)) + rec
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            raw = co.compress(bytes(data)) + co.flush()
        elif codec == "snappy":
            from polars_express_spark.functions.snappy import (
                encode_snappy,
            )

            raw = encode_snappy(bytes(data)) + zlib.crc32(
                bytes(data)
            ).to_bytes(4, "big")
        elif codec == "zstandard":
            from polars_express_spark.functions.zstd import encode_zstd

            raw = encode_zstd(bytes(data), content_size=False)
        else:
            raw = bytes(data)
        out += _w_long(len(chunk)) + _w_long(len(raw)) + raw + sync
    return bytes(out)


AVRO_SCHEMA = (
    "doc_id bigint, rec_no int, block_no int, codec string, "
    "schema_type string, size bigint, mean_b double, min_b int, max_b int"
)


def avro_record_batches(batches):
    """Batch-iterator core of read_avro_records (module-level so query
    synth stages can compose with it inside ONE mapInPandas pass —
    one Python-runner handshake, no JVM round trip of the payload)."""
    from collections.abc import Iterator
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = parse_avro(bytes(payload))
            if parsed is None:
                raise ValueError(
                    f"doc {doc_id}: corrupt or out-of-envelope Avro "
                    "object container"
                )
            codec, schema, _sync, blocks = parsed
            if isinstance(schema, tuple):
                raise ValueError(
                    f"doc {doc_id}: record-schema container — use "
                    "read_avro_fields for typed field extraction"
                )
            rno = 0
            for bno, block in enumerate(blocks):
                for datum in block:
                    arr = np.frombuffer(datum, dtype=np.uint8)
                    rows.append(
                        (doc_id, rno, bno, codec, schema, len(datum),
                         float(arr.mean()) if arr.size else 0.0,
                         int(arr.min()) if arr.size else 0,
                         int(arr.max()) if arr.size else 0)
                    )
                    rno += 1
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "rec_no", "block_no", "codec",
                     "schema_type", "size", "mean_b", "min_b", "max_b"],
        ).astype({"rec_no": "int32", "block_no": "int32",
                  "min_b": "int32", "max_b": "int32"})


def read_avro_records(df):
    """Avro extraction operator (the WARC/zip/tar/TFRecord operator
    shape): one container row → one row per record with the container's
    codec and schema (pinning the metadata-map decode under the hash),
    the record's block number (pinning the block framing), and exact
    byte stats over the datum. Malformed containers raise — a silent
    skip is a silent corpus hole. Arrow-batched mapInPandas; container
    bytes never leave the executor."""
    return df.select("doc_id", "payload").mapInPandas(
        avro_record_batches, schema=AVRO_SCHEMA
    )


def _descr_str(d) -> str:
    """Deterministic spelling of a type descriptor for the long-format
    ftype column (r18): array<x>, map<x>, enum, fixedN, record,
    union<a,b>; primitive and 'null|prim' strings pass through."""
    if isinstance(d, str):
        return d
    kind = d[0]
    if kind == "array":
        return f"array<{_descr_str(d[1])}>"
    if kind == "map":
        return f"map<{_descr_str(d[1])}>"
    if kind == "enum":
        return "enum"
    if kind == "fixed":
        return f"fixed{d[1]}"
    if kind == "record":
        return "record"
    return f"union<{','.join(_descr_str(b) for b in d[1])}>"


AVRO_FIELDS_SCHEMA = (
    "doc_id bigint, rec_no int, block_no int, codec string, "
    "fname string, ftype string, is_null boolean, v_int bigint, "
    "v_dbl double, v_str string, v_len int, v_sum bigint"
)


def avro_field_batches(batches):
    """Batch-iterator core of read_avro_fields (module-level so query
    synth stages can compose with it inside ONE mapInPandas pass —
    one Python-runner handshake, no JVM round trip of the payload)."""
    from collections.abc import Iterator
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = parse_avro(bytes(payload))
            if parsed is None:
                raise ValueError(
                    f"doc {doc_id}: corrupt or out-of-envelope Avro "
                    "object container"
                )
            codec, schema, _sync, blocks = parsed
            if not isinstance(schema, tuple):
                raise ValueError(
                    f"doc {doc_id}: primitive-schema container — "
                    "use read_avro_records"
                )
            fields = schema[1]
            rno = 0

            def emit(path, ftype, v, doc_id, rno, bno, codec):
                """One row per primitive leaf; complex values
                (r18) get a container row (v_len = element count)
                then leaf rows at 'path[i]' / 'path.key' /
                'path.field' — decode order, which IS wire
                order."""
                is_null = v is AVRO_NULL or isinstance(
                    v, type(AVRO_NULL)
                )
                if isinstance(ftype, tuple):
                    kind = ftype[0]
                    fstr = _descr_str(ftype)
                    if kind == "union":
                        if is_null:
                            rows.append((doc_id, rno, bno, codec,
                                         path, fstr, True, None,
                                         None, None, None, None))
                            return
                        if isinstance(v, AvroBranch):
                            emit(path, ftype[1][v.index], v.value,
                                 doc_id, rno, bno, codec)
                            return
                        branch = next(b for b in ftype[1]
                                      if b != "null")
                        emit(path, branch, v, doc_id, rno, bno,
                             codec)
                        return
                    if kind == "array":
                        rows.append((doc_id, rno, bno, codec, path,
                                     fstr, False, None, None, None,
                                     len(v), None))
                        for i, item in enumerate(v):
                            emit(f"{path}[{i}]", ftype[1], item,
                                 doc_id, rno, bno, codec)
                        return
                    if kind == "map":
                        rows.append((doc_id, rno, bno, codec, path,
                                     fstr, False, None, None, None,
                                     len(v), None))
                        for k, item in v.items():
                            emit(f"{path}.{k}", ftype[1], item,
                                 doc_id, rno, bno, codec)
                        return
                    if kind == "enum":
                        rows.append((doc_id, rno, bno, codec, path,
                                     fstr, False, None, None, v,
                                     len(v), None))
                        return
                    if kind == "fixed":
                        rows.append((doc_id, rno, bno, codec, path,
                                     fstr, False, None, None, None,
                                     len(v), sum(v)))
                        return
                    # record
                    rows.append((doc_id, rno, bno, codec, path,
                                 fstr, False, None, None, None,
                                 len(ftype[1]), None))
                    for fn, fd in ftype[1]:
                        emit(f"{path}.{fn}", fd, v[fn], doc_id,
                             rno, bno, codec)
                    return
                v_int = v_dbl = v_str = v_len = v_sum = None
                base = (ftype.split("|")[0]
                        if ftype.split("|")[0] != "null"
                        else ftype.split("|")[-1]
                        ) if "|" in ftype else ftype
                if is_null:
                    pass  # nullable union's null branch
                elif base in ("long", "int", "boolean"):
                    v_int = int(v)
                elif base in ("double", "float"):
                    v_dbl = float(v)
                elif base == "string":
                    v_str = v
                    v_len = len(v)
                else:  # bytes
                    v_len = len(v)
                    v_sum = sum(v)
                rows.append(
                    (doc_id, rno, bno, codec, path, ftype,
                     is_null, v_int, v_dbl, v_str, v_len, v_sum)
                )

            for bno, block in enumerate(blocks):
                for rec in block:
                    for fname, ftype in fields:
                        emit(fname, ftype, rec[fname], doc_id,
                             rno, bno, codec)
                    rno += 1
        pdf_out = pd.DataFrame(
            rows,
            columns=["doc_id", "rec_no", "block_no", "codec",
                     "fname", "ftype", "is_null", "v_int", "v_dbl",
                     "v_str", "v_len", "v_sum"],
        )
        pdf_out["rec_no"] = pdf_out["rec_no"].astype("int32")
        pdf_out["block_no"] = pdf_out["block_no"].astype("int32")
        yield pdf_out


def read_avro_fields(df):
    """Typed Avro record extraction (r17 — the record-schema datum
    reader the r16 verdict ranked the highest-leverage gap): one
    container row → one row per (record, field) in schema field order,
    with the value in the column its type owns — v_int for long/int/
    boolean (booleans as 0/1), v_dbl for double/float (a float32
    round-trips exactly into binary64), v_str for string (plus v_len),
    v_len + v_sum byte stats for bytes; nullable-union fields
    ('null|prim') ship the branch in is_null, with all value columns
    NULL on the null branch. Complex-typed fields (r18) explode into
    leaf rows under path names — 'tags[0]', 'scores.key',
    'geo.lat' — in decode order (which IS wire order), preceded by a
    container row whose v_len pins the element count (record fields:
    field count; enum: the symbol in v_str; fixed: byte stats); a
    null complex union ships one is_null row under the
    'union<null,...>' spelling. The container must carry a
    record schema (that is what makes the file self-describing — the
    reader takes NO external schema); primitive-schema containers
    belong to read_avro_records. Malformed containers raise — a silent
    skip is a silent corpus hole. Arrow-batched mapInPandas; container
    bytes never leave the executor; the long format keeps the output
    schema fixed across arbitrary record schemas (no per-corpus
    DataFrame schema inference)."""
    return df.select("doc_id", "payload").mapInPandas(
        avro_field_batches, schema=AVRO_FIELDS_SCHEMA
    )

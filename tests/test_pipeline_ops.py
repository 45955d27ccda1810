"""Golden tests for the non-oracle pipeline operators (SURVEY.md §5.2.2):
approximate / hash-based ops that no external oracle can replay —
checked against their exact counterparts (recall) or for determinism.
"""

from __future__ import annotations

from polars_express_spark.queries.registry import all_queries

from tests.conftest import SF_DIR

QS = all_queries()


def _pairs(df, a="a_id", b="b_id"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates + verify must recover a solid share of the exact
    n-gram jaccard pairs (same ≥0.2 threshold) and introduce nothing
    below the verification threshold (precision = 1 by construction).
    The registered q_minhash_lsh reports the same bounds as a 1-row
    driver invariant — it must agree."""
    from polars_express_spark.queries.pipeline import minhash_lsh_pairs

    exact = _pairs(QS["q_ngram_jaccard"](spark, SF_DIR))
    lsh = _pairs(minhash_lsh_pairs(spark, SF_DIR))
    assert lsh <= exact, "verify step must eliminate sub-threshold pairs"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.5, f"LSH recall too low: {recall:.2f} over {len(exact)} pairs"
    row = QS["q_minhash_lsh"](spark, SF_DIR).collect()[0]
    assert row["n_exact_pairs"] == len(exact)
    assert row["subset_ok"] is True and row["recall_ok"] is True


def test_ann_lsh_recall_vs_exact(spark):
    """Bucketed ANN must agree with brute force on a reasonable share of
    (probe, neighbor) hits. 8 hyperplanes on 500 docs is coarse — the
    bound is deliberately loose; exactness lives in q35. The registered
    q_ann_lsh reports the same bound as a 1-row driver invariant."""
    from polars_express_spark.queries.similarity import ann_lsh_topk

    exact = {
        (r["probe_id"], r["neighbor_id"]) for r in QS["q35_cosine_topk"](spark, SF_DIR).collect()
    }
    ann = {
        (r["probe_id"], r["neighbor_id"]) for r in ann_lsh_topk(spark, SF_DIR).collect()
    }
    assert len(ann & exact) / len(exact) >= 0.2
    row = QS["q_ann_lsh"](spark, SF_DIR).collect()[0]
    assert row["n_exact_topk"] == len(exact) and row["recall_ok"] is True
    spark.catalog.clearCache()


def test_ann_ivf_recall_vs_exact(spark):
    """IVF with Lloyd-trained centroids and 16/64 probed cells must
    recover most of the exact top-k — the trained inverted lists are
    cosine-coherent, so recall clears 0.75 even on near-random synthetic
    vectors (measured 0.80 at sf0.001, 0.84 at sf0.01; deterministic per
    dataset). The registered q_ann_ivf reports the ≥0.6 driver bound as
    a 1-row invariant."""
    from polars_express_spark.queries.similarity import ann_ivf_topk

    exact = {
        (r["probe_id"], r["neighbor_id"]) for r in QS["q35_cosine_topk"](spark, SF_DIR).collect()
    }
    ivf = {
        (r["probe_id"], r["neighbor_id"]) for r in ann_ivf_topk(spark, SF_DIR).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.75
    row = QS["q_ann_ivf"](spark, SF_DIR).collect()[0]
    assert row["n_exact_topk"] == len(exact) and row["recall_ok"] is True
    spark.catalog.clearCache()


def test_ann_ivf_recall_monotone_in_probe_cells(spark):
    """More probed lists → nested candidate sets → recall can only rise
    (a global top-k vector, once a candidate, is outranked by at most
    k-1 others). Pins the recall-vs-probe_cells curve at 64 cells:
    measured 0.58/0.80/0.86 at sf0.001, 0.70/0.84/0.90 at sf0.01 for
    probe_cells 8/16/24."""
    from polars_express_spark.queries.similarity import ann_ivf_topk

    exact = {
        (r["probe_id"], r["neighbor_id"]) for r in QS["q35_cosine_topk"](spark, SF_DIR).collect()
    }
    recalls = []
    for pc in (8, 16, 24):
        found = {
            (r["probe_id"], r["neighbor_id"])
            for r in ann_ivf_topk(spark, SF_DIR, n_cells=64, probe_cells=pc).collect()
        }
        recalls.append(len(found & exact) / len(exact))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[0] >= 0.5 and recalls[-1] >= 0.8
    spark.catalog.clearCache()


def test_approx_count_distinct_tolerance(spark):
    row = QS["q_approx_distinct"](spark, SF_DIR).collect()[0]
    assert row["exact_custs"] > 0 and row["within_tol"] is True


def test_percentile_approx_tolerance(spark):
    row = QS["q_percentile_approx"](spark, SF_DIR).collect()[0]
    assert row["exact_median"] > 0 and row["within_tol"] is True


def test_fingerprint_deterministic(spark):
    a = {(r["keep_doc"], r["n_docs"]) for r in QS["q_fingerprint"](spark, SF_DIR).collect()}
    b = {(r["keep_doc"], r["n_docs"]) for r in QS["q_fingerprint"](spark, SF_DIR).collect()}
    assert a == b and len(a) > 0


def test_simhash_invariants(spark):
    """16-bit fingerprints in range, and near-dup pairs' fingerprints
    differ in at most half the bits (similarity preservation) — the same
    bounds the registered 1-row q_simhash invariant reports."""
    from polars_express_spark.catalog import load_table
    from polars_express_spark.queries.pipeline import simhash_fingerprints

    d = load_table(spark, SF_DIR, "documents")
    rows = simhash_fingerprints(d).collect()
    assert len(rows) > 0 and all(0 <= r["simhash"] < 2**16 for r in rows)
    inv = QS["q_simhash"](spark, SF_DIR).collect()[0]
    assert inv["n_docs"] == len(rows)
    assert inv["ham_ok"] is True and inv["range_ok"] is True


def test_stratified_sample_invariant_row(spark):
    rows = QS["q_stratified_sample"](spark, SF_DIR).collect()
    assert len(rows) > 0 and all(r["kept_ok"] is True for r in rows)


def test_simhash_matches_fold_formulation(spark):
    """The production exploded hash aggregate and the shuffle-free
    per-row array fold must produce bit-identical fingerprints (same
    hashes, same vote signs) — they are the two sides of the
    codegen-vs-shuffle trade documented in q_simhash."""
    from polars_express_spark.catalog import load_table
    from polars_express_spark.queries.pipeline import (
        simhash_fingerprints,
        simhash_fingerprints_fold,
    )

    d = load_table(spark, SF_DIR, "documents")
    agg = {(r["doc_id"], r["simhash"]) for r in simhash_fingerprints(d).collect()}
    fold = {(r["doc_id"], r["simhash"]) for r in simhash_fingerprints_fold(d).collect()}
    assert agg == fold and len(agg) > 0


def test_multimodal_feature_extract(spark):
    """Byte-histogram features: fixed dim, L1-normalized, deterministic."""
    from polars_express_spark.catalog import load_table
    from polars_express_spark.functions.multimodal import attach_payload, extract_features

    d = attach_payload(load_table(spark, SF_DIR, "documents")).limit(20)
    rows = extract_features(d, dim=16).collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-5


def test_multimodal_resize_byte_budget(spark):
    from polars_express_spark.catalog import load_table
    from polars_express_spark.functions.multimodal import attach_payload, resize_media

    d = attach_payload(load_table(spark, SF_DIR, "documents")).limit(10)
    rows = resize_media(d, width=8, height=4).collect()
    assert all(len(r["payload"]) == 32 and r["width"] == 8 and r["height"] == 4 for r in rows)


def test_multimodal_frame_sampling_cardinality(spark):
    """One payload row must explode to exactly n_frames ordered rows that
    reassemble to the original payload."""
    from polars_express_spark.catalog import load_table
    from polars_express_spark.functions.multimodal import attach_payload, sample_frames

    d = attach_payload(load_table(spark, SF_DIR, "documents")).limit(5)
    originals = {r["doc_id"]: bytes(r["payload"]) for r in d.collect()}
    rows = sample_frames(d, n_frames=4).collect()
    assert len(rows) == 20
    by_doc: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["frame_no"])):
        by_doc.setdefault(r["doc_id"], []).append(bytes(r["frame"]))
    for doc_id, frames in by_doc.items():
        assert b"".join(frames) == originals[doc_id]


def test_multimodal_real_decode_is_stubbed(spark):
    """The codec-needing real decode path (non-header-parsable payloads,
    e.g. text bytes standing in for JPEG) must be a clearly-marked stub
    in this codec-less environment while the fake path works end-to-end."""
    import pytest

    from polars_express_spark.catalog import load_table
    from polars_express_spark.functions.multimodal import attach_payload, decode_media

    d = attach_payload(load_table(spark, SF_DIR, "documents")).limit(2)
    with pytest.raises(Exception) as ei:
        decode_media(d, real_decode=True).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def _make_png(w, h, color_type=2):
    """A fully valid (checksummed, decodable) RGB PNG built with stdlib
    only — zlib for the raster, binascii.crc32 for chunk CRCs."""
    import binascii
    import struct
    import zlib

    def chunk(tag, data):
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", binascii.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    nch = {0: 1, 2: 3, 6: 4}[color_type]
    raster = b"".join(b"\x00" + b"\x7f" * (w * nch) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


def _make_bmp(w, h, bits=24):
    """A valid bottom-up BITMAPINFOHEADER BMP, stdlib struct only."""
    import struct

    row = ((w * bits // 8 + 3) // 4) * 4  # rows pad to 4 bytes
    pixel_bytes = row * h
    header = struct.pack("<2sIHHI", b"BM", 54 + pixel_bytes, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bits, 0, pixel_bytes, 2835, 2835, 0, 0)
    return header + info + b"\x7f" * pixel_bytes


def _make_bmp_core(w, h):
    """Ancient BITMAPCOREHEADER variant (12-byte DIB header, u16 dims)."""
    import struct

    row = ((w * 3 + 3) // 4) * 4
    pixel_bytes = row * h
    header = struct.pack("<2sIHHI", b"BM", 26 + pixel_bytes, 0, 0, 26)
    core = struct.pack("<IHHHH", 12, w, h, 1, 24)
    return header + core + b"\x7f" * pixel_bytes


def _make_gif(w, h):
    import struct

    # header + logical screen descriptor + trailer — enough for any
    # header parser, dimensions at the spec'd offsets
    return b"GIF89a" + struct.pack("<HHBBB", w, h, 0, 0, 0) + b"\x3b"


def _make_jpeg(w, h, components=3, sof=0xC0, app1_exif=False):
    """A structurally valid JPEG header stream built with stdlib struct:
    SOI, APP0/APP1, a DQT, the SOFn frame header carrying the
    dimensions, then SOS + EOI. Entropy data is irrelevant to header
    metadata (ITU T.81 §B.2.2), so the parser must find the dims without
    any codec."""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"  # SOI
    if app1_exif:  # EXIF-first files (every phone camera)
        out += seg(0xE1, b"Exif\x00\x00" + b"\x00" * 20)
    out += seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(64))  # DQT
    sof_body = struct.pack(">BHHB", 8, h, w, components) + bytes(3 * components)
    out += seg(sof, sof_body)
    out += seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    return out + b"\xd2\xcf\x20" + b"\xff\xd9"  # entropy bytes + EOI


def test_multimodal_real_decode_header_formats(spark):
    """REAL (not fake) metadata decode for PNG/BMP/GIF: valid files
    generated with the stdlib, dimensions recovered from header bytes by
    the codec-less parse — the round-5 'env-blocked' gap closed for
    header-parsable formats."""
    from polars_express_spark.functions.multimodal import decode_media

    fixtures = [
        (1, _make_png(37, 23), 37, 23, 3),
        (2, _make_png(5, 9, color_type=6), 5, 9, 4),
        (3, _make_bmp(64, 48), 64, 48, 3),
        (4, _make_gif(12, 9), 12, 9, 3),
        (5, _make_bmp_core(7, 11), 7, 11, 3),
        # r7: JPEG dims from the SOFn marker walk (no codec): baseline,
        # progressive (SOF2) behind an EXIF APP1, and grayscale
        (6, _make_jpeg(320, 240), 320, 240, 3),
        (7, _make_jpeg(99, 66, sof=0xC2, app1_exif=True), 99, 66, 3),
        (8, _make_jpeg(16, 8, components=1), 16, 8, 1),
    ]
    d = spark.createDataFrame(
        [(i, bytearray(p)) for i, p, *_ in fixtures], "doc_id long, payload binary"
    )
    got = {r["doc_id"]: r for r in decode_media(d, real_decode=True).collect()}
    for doc_id, payload, w, h, ch in fixtures:
        r = got[doc_id]
        assert (r["width"], r["height"], r["channels"]) == (w, h, ch), doc_id
        assert r["byte_len"] == len(payload)


def test_multimodal_corrupt_jpeg_rejected(spark):
    """A truncated / SOF-less JPEG must NOT yield garbage dimensions:
    the marker walk returns None and (with no codec in this sandbox)
    decode raises rather than inventing metadata."""
    from polars_express_spark.functions.multimodal import (
        decode_media,
        parse_image_header,
    )

    sofless = b"\xff\xd8" + b"\xff\xe0\x00\x04\x00\x00" + b"\xff\xd9"  # no SOF
    truncated = _make_jpeg(64, 64)[:12]
    assert parse_image_header(sofless) is None
    assert parse_image_header(truncated) is None
    assert parse_image_header(b"\xff\xd8\x00\x00garbage") is None
    import pytest

    d = spark.createDataFrame(
        [(1, bytearray(sofless))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception) as ei:
        decode_media(d, real_decode=True).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_connected_components_topologies(spark):
    """Chain (transitivity past the pairwise threshold), triangle,
    isolated pair, and a node list that skips ids — labels must converge
    to the min doc_id of each component, and the driver union-find and
    distributed label-propagation regimes must agree exactly."""
    from polars_express_spark.queries.pipeline import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    driver = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(edges).collect()
    }
    distributed = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert driver == want and distributed == want


def test_connected_components_regimes_agree_on_random_graphs(spark):
    """Driver union-find and distributed propagation+jump must produce
    identical labels on arbitrary topologies — three seeded random
    graphs with mixed component sizes, including isolated pairs and
    hubs. (A reference union-find in pure Python is the ground truth.)"""
    import random

    from polars_express_spark.queries.pipeline import connected_components

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {a for a, _ in edges} | {b for _, b in edges}
        want = {(x, find(x)) for x in nodes}

        df = spark.createDataFrame(edges, "a_id long, b_id long")
        got_driver = {
            (r["doc_id"], r["cluster_id"]) for r in connected_components(df).collect()
        }
        got_dist = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(df, driver_threshold=0).collect()
        }
        assert got_driver == want and got_dist == want, f"seed {seed}"


def test_connected_components_chain_converges_logarithmically(spark):
    """Adversarial long chain on the distributed path: pointer jumping
    must converge a 41-node chain (diameter 40) in O(log n) rounds —
    8 suffice where plain propagation would need 40 — and a max_iters too
    small to converge must RAISE, never silently return unconverged
    labels (VERDICT r3 defect #1)."""
    import pytest

    from polars_express_spark.queries.pipeline import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, driver_threshold=0, max_iters=2).collect()
    ok = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(chain, driver_threshold=0, max_iters=8).collect()
    }
    assert ok == {(i, 0) for i in range(41)}


def test_pagerank_star_and_mass(spark):
    """On a star graph the hub must out-rank every leaf; total rank mass
    stays near n (symmetric graph, no dangling nodes); determinism
    across repartitioning."""
    from polars_express_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(10, 11)], "a_id long, b_id long"
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iters=8).collect()}
    assert len(r) == 8
    assert all(r[0] > r[i] for i in range(1, 6))  # hub beats leaves
    assert abs(sum(r.values()) - len(r)) < 0.3  # mass ≈ n at damping 0.85
    r2 = {row["node"]: row["rank"] for row in pagerank(edges.repartition(5), iters=8).collect()}
    assert r == r2  # decimal-exact sums → bit-identical on any partitioning


def test_parse_audio_header_formats():
    """RIFF walker robustness: canonical wave-module output, extra
    chunks before fmt/data, odd-size chunk padding, 8-bit mono, and
    rejection of non-WAVE bytes — all pure struct, no codec."""
    import io
    import struct
    import wave

    from polars_express_spark.functions.multimodal import parse_audio_header

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(b"\x00" * (123 * 2 * 2))
    assert parse_audio_header(buf.getvalue()) == (2, 44100, 16, 123)

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    data = b"\x00" * 77  # odd size → padded; 8-bit mono → 77 samples
    extra = chunk(b"LIST", b"INFOjunk!")  # odd body, must be skipped
    body = b"WAVE" + extra + chunk(b"fmt ", fmt) + chunk(b"data", data)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert parse_audio_header(wav) == (1, 8000, 8, 77)

    assert parse_audio_header(b"RIFF\x04\x00\x00\x00AVI ") is None
    assert parse_audio_header(b"\x89PNG\r\n\x1a\n") is None
    assert parse_audio_header(b"") is None


def test_netpbm_pixel_decode_exact_stats(spark):
    """r9: REAL pixel decode for the uncompressed raster family — P5
    (gray, incl. 16-bit big-endian) and P6 (RGB) payloads with header
    comments decode to exact per-doc mean/min/max computed from the
    actual raster, executor-side in one Arrow batch pass."""
    from polars_express_spark.functions.multimodal import (
        decode_pixel_stats,
        parse_image_header,
        parse_netpbm,
    )

    # P6 RGB 2x2: known pixels
    p6 = b"P6\n# a comment\n2 2\n255\n" + bytes(
        [0, 0, 0, 255, 255, 255, 10, 20, 30, 40, 50, 60]
    )
    # P5 gray 3x1 8-bit
    p5 = b"P5 3 1 255\n" + bytes([0, 128, 255])
    # P5 gray 2x1 16-bit (maxval > 255 -> big-endian u16)
    p5_16 = b"P5\n2 1\n65535\n" + (1000).to_bytes(2, "big") + (4000).to_bytes(2, "big")

    w, h, ch, arr = parse_netpbm(p6)
    assert (w, h, ch) == (2, 2, 3) and arr.shape == (2, 2, 3)
    assert parse_image_header(p6) == (2, 2, 3)  # metadata path covers Netpbm too

    df = spark.createDataFrame(
        [(1, bytearray(p6)), (2, bytearray(p5)), (3, bytearray(p5_16))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_pixel_stats(df).collect()}
    r1 = got[1]
    assert (r1["width"], r1["height"], r1["channels"]) == (2, 2, 3)
    assert r1["min_val"] == 0 and r1["max_val"] == 255
    assert abs(r1["mean_val"] - (sum([0, 0, 0, 255, 255, 255, 10, 20, 30, 40, 50, 60]) / 12)) < 1e-12
    r2 = got[2]
    assert (r2["width"], r2["height"], r2["channels"]) == (3, 1, 1)
    assert r2["mean_val"] == (0 + 128 + 255) / 3
    r3 = got[3]
    assert (r3["min_val"], r3["max_val"]) == (1000, 4000) and r3["mean_val"] == 2500.0


def test_netpbm_corrupt_and_non_netpbm_fail_loud(spark):
    """Truncated rasters parse to None; non-Netpbm payloads through the
    pixel-stats operator raise (codec-gated), never silently null."""
    import pytest as _pytest

    from polars_express_spark.functions.multimodal import (
        decode_pixel_stats,
        parse_netpbm,
    )

    assert parse_netpbm(b"P6\n2 2\n255\n" + b"\x00" * 5) is None  # truncated
    assert parse_netpbm(b"P6\n-2 2\n255\n") is None  # bad dims
    assert parse_netpbm(b"\x89PNG....") is None  # not netpbm

    df = spark.createDataFrame([(1, bytearray(b"\xff\xd8\xff\xe0JFIF"))],
                               "doc_id long, payload binary")
    with _pytest.raises(Exception, match="Netpbm|codec"):
        decode_pixel_stats(df).collect()


def test_netpbm_real_resize_and_features(spark):
    """r9: the real_resize/real_extract paths are REAL for Netpbm —
    nearest-neighbor pixel selection re-encoded as a valid Netpbm
    payload (round-trips through parse_netpbm, 8- and 16-bit), and
    tile-mean features computed from actual pixels."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        extract_features,
        parse_netpbm,
        resize_media,
    )

    # P6 RGB 4x2 with a known gradient
    pixels = bytes(range(4 * 2 * 3))
    p6 = b"P6\n4 2\n255\n" + pixels
    # P5 16-bit 4x1
    p5_16 = b"P5\n4 1\n65535\n" + b"".join(
        int(v).to_bytes(2, "big") for v in (100, 200, 300, 400)
    )
    df = spark.createDataFrame(
        [(1, bytearray(p6)), (2, bytearray(p5_16))], "doc_id long, payload binary"
    )

    out = {r["doc_id"]: r for r in resize_media(df, width=2, height=1, real_resize=True).collect()}
    w, h, ch, arr = parse_netpbm(bytes(out[1]["payload"]))
    assert (w, h, ch) == (2, 1, 3)
    src = np.frombuffer(pixels, dtype="u1").reshape(2, 4, 3)
    # nearest neighbor: rows linspace(0,1,1)->row 0... height=1 -> yi=[0]; xi=round(linspace(0,3,2))=[0,3]
    assert (arr[0, 0] == src[0, 0]).all() and (arr[0, 1] == src[0, 3]).all()
    w2, h2, ch2, arr2 = parse_netpbm(bytes(out[2]["payload"]))
    assert (w2, h2, ch2) == (2, 1, 1)
    assert arr2.ravel().tolist() == [100, 400]  # 16-bit survives round-trip

    feats = {r["doc_id"]: r["features"] for r in
             extract_features(df, dim=2, real_extract=True).collect()}
    gray = src.astype("float64").mean(axis=2).ravel()
    want = np.array([gray[:4].mean(), gray[4:].mean()], dtype="float32")
    want = want / want.sum()
    assert np.allclose(feats[1], want, atol=1e-6)

    # compressed payloads still fail loud on the real paths
    import pytest as _pytest

    jpeg = spark.createDataFrame([(9, bytearray(b"\xff\xd8\xff\xe0JFIF"))],
                                 "doc_id long, payload binary")
    with _pytest.raises(Exception, match="Netpbm|codec"):
        resize_media(jpeg, real_resize=True).collect()
    with _pytest.raises(Exception, match="Netpbm|encoder"):
        extract_features(jpeg, real_extract=True).collect()


def test_avi_demux_real_frame_sampling(spark):
    """r9: sample_frames(real_decode=True) demuxes a hand-built
    RIFF/AVI container — frame bytes come from the actual '00dc'
    chunks in LIST movi (odd sizes word-aligned, hdrl skipped),
    sampled evenly; non-AVI payloads raise."""
    import pytest as _pytest

    from polars_express_spark.functions.multimodal import (
        parse_avi_frames,
        sample_frames,
    )

    def chunk(cid, body):
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) & 1 else b""
        )

    frames_data = [b"FRAME0__", b"FRAME1", b"FRAME22222", b"F3x"]  # odd size too
    movi_children = b"".join(chunk(b"00dc", f) for f in frames_data)
    movi = chunk(b"LIST", b"movi" + movi_children)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", b"\x00" * 8))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + len(body).to_bytes(4, "little") + body

    got = parse_avi_frames(avi)
    assert [avi[o : o + s] for o, s in got] == frames_data

    df = spark.createDataFrame([(7, bytearray(avi))], "doc_id long, payload binary")
    rows = sorted(
        (r["frame_no"], bytes(r["frame"]))
        for r in sample_frames(df, n_frames=2, real_decode=True).collect()
    )
    assert rows == [(0, b"FRAME0__"), (1, b"F3x")]  # linspace(0,3,2) -> 0, 3
    all_rows = sample_frames(df, n_frames=10, real_decode=True).collect()
    assert sorted(bytes(r["frame"]) for r in all_rows) == sorted(frames_data)

    # truncated container parses to None; non-AVI raises through the op
    assert parse_avi_frames(avi[: len(avi) - 4]) is None
    bad = spark.createDataFrame([(8, bytearray(b"\x00\x01\x02"))],
                                "doc_id long, payload binary")
    with _pytest.raises(Exception, match="AVI|ffmpeg"):
        sample_frames(bad, real_decode=True).collect()


def test_avi_real_video_pixel_decode(spark):
    """r14 — real PIXEL decode for the two AVI codecs that need no new
    math: MJPEG (every '00dc' chunk is a standalone baseline JPEG) and
    uncompressed BI_RGB DIB (the stream's strf BITMAPINFOHEADER plus a
    14-byte 'BM' prefix makes each frame a complete BMP). Sampled
    frames come back as valid PNGs carrying the exact source pixels;
    frames of an unknown compressed codec stay encoded (demux-only,
    the documented ffmpeg gate)."""
    import numpy as np

    from polars_express_spark.functions.jpeg import encode_jpeg
    from polars_express_spark.functions.multimodal import (
        _avi_video_format,
        encode_avi,
        parse_png,
        sample_frames,
    )

    rng = np.random.RandomState(14)
    # MJPEG: constant 8x8 blocks => exact decode (the jpeg query tier)
    mj_rasters = [
        rng.randint(0, 256, (4, 4)).astype("u1").repeat(8, 0).repeat(8, 1)
        for _ in range(3)
    ]
    mjpg = encode_avi([encode_jpeg(r) for r in mj_rasters], 32, 32, b"MJPG")

    # raw DIB: 24bpp BGR bottom-up rows (4*3 stride, already 4-aligned)
    dib_rasters = [rng.randint(0, 256, (4, 4, 3)).astype("u1") for _ in range(2)]
    dib = encode_avi(
        [r[::-1, :, ::-1].tobytes() for r in dib_rasters], 4, 4, b"DIB "
    )
    assert _avi_video_format(dib) is not None

    # unknown codec: frames must come back encoded, byte-identical
    opaque = [b"\x01\x02\x03\x04", b"\x05\x06\x07\x08"]
    h264ish = encode_avi(opaque, 4, 4, b"H264")

    df = spark.createDataFrame(
        [(1, bytearray(mjpg)), (2, bytearray(dib)), (3, bytearray(h264ish))],
        "doc_id long, payload binary",
    )
    out = sample_frames(df, n_frames=3, real_decode=True).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["frame_no"]] = bytes(r["frame"])

    assert len(by_doc[1]) == 3
    for fno, want in enumerate(mj_rasters):
        w, h, ch, arr = parse_png(by_doc[1][fno])
        assert (w, h, ch) == (32, 32, 1)
        assert np.array_equal(arr[:, :, 0], want), fno
    assert len(by_doc[2]) == 2
    for fno, want in enumerate(dib_rasters):
        w, h, ch, arr = parse_png(by_doc[2][fno])
        assert (w, h, ch) == (4, 4, 3)
        assert np.array_equal(arr, want), fno
    assert sorted(by_doc[3].values()) == sorted(opaque)


def test_mp4_demux_real_frame_sampling(spark):
    """r14 — ISO BMFF joins RIFF/AVI as a demuxable container: sample
    boundaries come from the REAL stsz/stsc/stco tables (multi-chunk
    layouts included), MJPEG samples pixel-decode to PNGs through the
    same SOI sniff as AVI, opaque-codec samples come back encoded
    byte-identical, and a truncated file raises through the op."""
    import pytest as _pytest
    import numpy as np

    from polars_express_spark.functions.jpeg import encode_jpeg
    from polars_express_spark.functions.multimodal import (
        encode_mp4,
        parse_mp4_frames,
        parse_png,
        sample_frames,
    )

    rng = np.random.RandomState(41)
    rasters = [
        rng.randint(0, 256, (2, 2)).astype("u1").repeat(8, 0).repeat(8, 1)
        for _ in range(3)
    ]
    mj = encode_mp4([encode_jpeg(r) for r in rasters], samples_per_chunk=2)
    opaque = [b"\x01\x02\x03", b"\x04\x05\x06\x07", b"\x08"]
    h264ish = encode_mp4(opaque, samples_per_chunk=1)
    assert [h264ish[o : o + s] for o, s in parse_mp4_frames(h264ish)] == opaque

    df = spark.createDataFrame(
        [(1, bytearray(mj)), (2, bytearray(h264ish))],
        "doc_id long, payload binary",
    )
    out = sample_frames(df, n_frames=3, real_decode=True).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["frame_no"]] = bytes(r["frame"])
    for fno, want in enumerate(rasters):
        w, h, ch, arr = parse_png(by_doc[1][fno])
        assert (w, h, ch) == (16, 16, 1)
        assert np.array_equal(arr[:, :, 0], want), fno
    assert sorted(by_doc[2].values()) == sorted(opaque)

    bad = spark.createDataFrame(
        [(9, bytearray(mj[: len(mj) - 30]))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="AVI|BMFF|ffmpeg"):
        sample_frames(bad, real_decode=True).collect()


def test_avi_audio_track_decode(spark):
    """r14 — the audio track of a video file decodes for real:
    parse_avi_audio demuxes the first 'auds' stream by its REAL strl
    index ('01wb' behind a video stream), concatenates its chunks, and
    decode_audio_samples re-wraps the strf WAVEFORMATEX as a WAV and
    decodes it — cross-checked against mulaw_decode on the raw codes.
    An AVI with no audio stream raises."""
    import struct

    import numpy as np
    import pytest as _pytest

    from polars_express_spark.functions.multimodal import (
        decode_audio_samples,
        encode_avi,
        mulaw_decode,
        parse_avi_audio,
    )

    rng = np.random.RandomState(25)
    codes = bytes(rng.randint(0, 256, 80).astype("u1"))
    afmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    dib = rng.randint(0, 256, (4, 4, 3)).astype("u1")[::-1, :, ::-1].tobytes()
    avi = encode_avi([dib], 4, 4, b"DIB ", audio=(afmt, [codes[:33], codes[33:]]))
    gfmt, gdata = parse_avi_audio(avi)
    assert gfmt == afmt and gdata == codes

    df = spark.createDataFrame([(1, bytearray(avi))], "doc_id long, payload binary")
    got = decode_audio_samples(df).collect()[0]
    want = mulaw_decode(np.frombuffer(codes, dtype=np.uint8))
    assert got["n_samples"] == 80
    assert got["min_pcm"] == int(want.min()) and got["max_pcm"] == int(want.max())
    assert abs(got["mean_pcm"] - float(want.mean())) < 1e-9

    silent = spark.createDataFrame(
        [(2, bytearray(encode_avi([dib], 4, 4, b"DIB ")))],
        "doc_id long, payload binary",
    )
    with _pytest.raises(Exception, match="no audio stream"):
        decode_audio_samples(silent).collect()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _encode_png(arr, ctype_i: int, depth: int, filters, palette=None, interlace=False) -> bytes:
    """Minimal stdlib PNG encoder for the tests: filters[i] picks the
    scanline filter (cycling across scanlines, including across Adam7
    passes), so every reconstruction path is exercised against pixels
    we know. Encoding applies the filter's forward form; the decoder
    must invert it exactly. interlace=True writes Adam7: each of the
    seven sub-images filtered independently, per spec."""
    import struct
    import zlib

    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    bps = max(1, depth // 8)
    dt = ">u2" if depth == 16 else "u1"
    a3 = np.ascontiguousarray(arr, dtype=dt)
    if a3.ndim == 2:
        a3 = a3[:, :, None]
    bpp = ch * bps  # sub-byte → 1: filters operate on whole bytes
    row_no = 0  # global scanline counter so filters cycle across passes

    def filt_block(sub) -> bytes:
        nonlocal row_no
        ph, pw = sub.shape[0], sub.shape[1]
        if depth < 8:
            # pack sub-byte samples MSB-first, each row padded to a
            # byte boundary (r13: the sub-byte tier's test-side half)
            bits = (
                (sub[:, :, 0].astype("u1")[:, :, None]
                 >> np.arange(depth - 1, -1, -1, dtype="u1")) & 1
            ).reshape(ph, -1)
            raster = np.packbits(bits, axis=1).tobytes()
            stride = (pw * depth + 7) // 8
        else:
            raster = np.ascontiguousarray(sub, dtype=dt).tobytes()
            stride = pw * bpp
        out = bytearray()
        prev = bytes(stride)
        for y in range(ph):
            line = raster[y * stride : (y + 1) * stride]
            f = filters[row_no % len(filters)]
            row_no += 1
            out.append(f)
            for x in range(stride):
                av = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 0:
                    v = line[x]
                elif f == 1:
                    v = line[x] - av
                elif f == 2:
                    v = line[x] - b
                elif f == 3:
                    v = line[x] - ((av + b) >> 1)
                else:  # Paeth
                    p = av + b - c
                    pa, pb, pc = abs(p - av), abs(p - b), abs(p - c)
                    pr = av if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = line[x] - pr
                out.append(v & 0xFF)
            prev = line
        return bytes(out)

    if interlace:
        body = b""
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            sub = a3[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                body += filt_block(sub)
    else:
        body = filt_block(a3)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype_i, 0, 0, 1 if interlace else 0)
    png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        png += _png_chunk(b"PLTE", palette)
    comp = zlib.compress(bytes(body))
    # split IDAT in two to exercise multi-chunk concatenation
    png += _png_chunk(b"IDAT", comp[: len(comp) // 2])
    png += _png_chunk(b"IDAT", comp[len(comp) // 2 :])
    png += _png_chunk(b"IEND", b"")
    return png


def test_png_pixel_decode_all_filters_and_types(spark):
    """r11: REAL PNG decode via stdlib zlib — every scanline filter
    (None/Sub/Up/Average/Paeth), gray/RGB/RGBA at 8-bit, gray 16-bit
    (big-endian, the parse_netpbm convention), and 8-bit palette all
    round-trip bit-exact through parse_png, and decode_pixel_stats
    reduces PNG and Netpbm payloads side by side."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        decode_pixel_stats,
        parse_png,
    )

    rng = np.random.RandomState(7)
    # RGB 8-bit, 7x5, one scanline per filter type
    rgb = rng.randint(0, 256, size=(5, 7, 3)).astype("u1")
    png_rgb = _encode_png(rgb, 2, 8, filters=[0, 1, 2, 3, 4])
    w, h, ch, arr = parse_png(png_rgb)
    assert (w, h, ch) == (7, 5, 3) and np.array_equal(arr, rgb)
    # gray 8-bit with Paeth everywhere (c-reference path)
    g = rng.randint(0, 256, size=(4, 6)).astype("u1")
    wg, hg, chg, arrg = parse_png(_encode_png(g, 0, 8, filters=[4]))
    assert (wg, hg, chg) == (6, 4, 1) and np.array_equal(arrg[:, :, 0], g)
    # RGBA 8-bit (filters touch the 4-byte pixel stride)
    rgba = rng.randint(0, 256, size=(3, 3, 4)).astype("u1")
    _, _, cha, arra = parse_png(_encode_png(rgba, 6, 8, filters=[1, 3, 4]))
    assert cha == 4 and np.array_equal(arra, rgba)
    # gray 16-bit: filters operate on BYTES, samples big-endian
    g16 = rng.randint(0, 65536, size=(3, 4)).astype(">u2")
    _, _, ch16, arr16 = parse_png(_encode_png(g16, 0, 16, filters=[2, 4, 1]))
    assert ch16 == 1 and np.array_equal(arr16[:, :, 0].astype("u2"), g16.astype("u2"))
    # palette: indices look up PLTE, output is RGB
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    idx = np.array([[0, 1, 2], [2, 1, 0]], dtype="u1")
    _, _, chp, arrp = parse_png(_encode_png(idx, 3, 8, filters=[0, 1], palette=pal))
    assert chp == 3
    assert tuple(arrp[0, 0]) == (255, 0, 0) and tuple(arrp[1, 0]) == (0, 0, 255)

    # the operator reduces PNG and Netpbm in the same pass
    p5 = b"P5 3 1 255\n" + bytes([0, 128, 255])
    df = spark.createDataFrame(
        [(1, bytearray(png_rgb)), (2, bytearray(p5))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_pixel_stats(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (7, 5, 3)
    assert got[1]["min_val"] == int(rgb.min()) and got[1]["max_val"] == int(rgb.max())
    assert abs(got[1]["mean_val"] - float(rgb.mean())) < 1e-9
    assert got[2]["mean_val"] == (0 + 128 + 255) / 3


def test_png_corrupt_unsupported_fail_loud():
    """Corrupt streams return None — bad chunk CRC, truncated IDAT,
    raster/header disagreement, palette overrun — and INVALID depth/
    color-type combinations (e.g. sub-byte RGB) also return None so
    the operator raises rather than inventing pixels. Since r13 there
    are no valid-but-uncovered PNGs left: sub-byte grayscale/palette
    (the former last gate) decodes."""
    import struct
    import zlib

    import numpy as np

    from polars_express_spark.functions.multimodal import parse_png

    g = np.arange(12, dtype="u1").reshape(3, 4)
    good = _encode_png(g, 0, 8, filters=[0])
    assert parse_png(good) is not None
    # flip one payload byte -> chunk CRC mismatch
    bad = bytearray(good)
    bad[40] ^= 0xFF
    assert parse_png(bytes(bad)) is None
    # truncated: drop the tail
    assert parse_png(good[:-12]) is None
    # interlaced header whose data length disagrees with the Adam7
    # pass layout (15 bytes vs the required 18) — structural corruption
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 1)
    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 15))
        + _png_chunk(b"IEND", b"")
    )
    assert parse_png(interlaced) is None
    # sub-byte gray (2-bit) DECODES since r13 — the gate is closed
    ihdr2b = struct.pack(">IIBBBBB", 4, 3, 2, 0, 0, 0, 0)
    sub_byte = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr2b)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 6))
        + _png_chunk(b"IEND", b"")
    )
    sw, sh, sch, sarr = parse_png(sub_byte)
    assert (sw, sh, sch) == (4, 3, 1) and not sarr.any()
    # but sub-byte RGB is not a VALID PNG (spec §11.2.2) — still None
    ihdr_bad = struct.pack(">IIBBBBB", 4, 3, 2, 2, 0, 0, 0)
    invalid = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr_bad)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 9))
        + _png_chunk(b"IEND", b"")
    )
    assert parse_png(invalid) is None
    # raster length disagrees with header (extra scanline)
    ihdr2 = struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0)
    wrong = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr2)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 15))
        + _png_chunk(b"IEND", b"")
    )
    assert parse_png(wrong) is None
    # palette index past PLTE
    idx = np.array([[5]], dtype="u1")
    overrun = _encode_png(idx, 3, 8, filters=[0], palette=bytes([1, 2, 3]))
    assert parse_png(overrun) is None


def test_png_adam7_interlace_roundtrip():
    """r12: Adam7-interlaced PNGs decode to the same pixels as their
    sequential twins — gray/RGB/RGBA at 8- and 16-bit, random filter
    mixes cycling ACROSS the seven passes, palette type, and the shapes
    where some passes are empty (tiny images)."""
    import numpy as np

    from polars_express_spark.functions.multimodal import parse_png

    rng = np.random.RandomState(14)
    for shape, ctype, depth in [
        ((11, 13), 0, 8),        # gray — all 7 passes non-empty
        ((9, 10, 3), 2, 8),      # RGB
        ((5, 6, 4), 6, 8),       # RGBA
        ((7, 4), 0, 16),         # gray 16-bit (2-byte samples scatter)
        ((1, 1), 0, 8),          # only pass 1 exists
        ((2, 3), 0, 8),          # several empty passes
        ((8, 1), 0, 8),          # single column
    ]:
        hi = 65536 if depth == 16 else 256
        a = rng.randint(0, hi, size=shape).astype(">u2" if depth == 16 else "u1")
        got = parse_png(_encode_png(a, ctype, depth, filters=[0, 1, 2, 3, 4], interlace=True))
        assert got is not None, (shape, ctype, depth)
        w, h, ch, arr = got
        want = a if a.ndim == 3 else a[:, :, None]
        assert (w, h) == (shape[1], shape[0])
        assert np.array_equal(arr.astype(want.dtype), want), (shape, ctype, depth)
    # paletted + interlaced
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx = rng.randint(0, 3, size=(9, 9)).astype("u1")
    w, h, ch, arr = parse_png(_encode_png(idx, 3, 8, filters=[1, 4], palette=pal, interlace=True))
    assert ch == 3
    want = np.frombuffer(pal, dtype="u1").reshape(3, 3)[idx]
    assert np.array_equal(arr, want)


def test_png_bomb_trns_and_critical_chunks():
    """r12 hardening (ADVICE): a kilobyte-scale deflate bomb is rejected
    WITHOUT inflating past the header-declared raster size; tRNS
    transparency and unrecognized critical chunks return None (honoring
    either would change pixels); unrecognized ANCILLARY chunks are
    still skipped per spec."""
    import struct
    import time
    import zlib

    import numpy as np

    from polars_express_spark.functions.multimodal import parse_png

    g = np.arange(12, dtype="u1").reshape(3, 4)
    base = _encode_png(g, 0, 8, filters=[0])

    # deflate bomb: 2x2 gray header, IDAT inflates to 256 MiB. The
    # capped decompressobj path must reject it fast (the uncapped
    # zlib.decompress materialized the whole bomb first)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * (256 << 20), 9))
        + _png_chunk(b"IEND", b"")
    )
    assert len(bomb) < 300_000  # the attack payload really is small
    t0 = time.perf_counter()
    assert parse_png(bomb) is None
    assert time.perf_counter() - t0 < 1.0

    def _with_chunk_after_ihdr(png: bytes, ctype: bytes, data: bytes) -> bytes:
        # IHDR chunk is bytes 8..33 (8 sig + 25 chunk)
        return png[:33] + _png_chunk(ctype, data) + png[33:]

    # tRNS present -> None (alpha would be silently dropped)
    pal = bytes([255, 0, 0, 0, 255, 0])
    idx = np.array([[0, 1]], dtype="u1")
    paletted = _encode_png(idx, 3, 8, filters=[0], palette=pal)
    assert parse_png(paletted) is not None
    assert parse_png(_with_chunk_after_ihdr(paletted, b"tRNS", b"\x00")) is None
    # unknown CRITICAL chunk (uppercase first letter) -> None
    assert parse_png(_with_chunk_after_ihdr(base, b"CRIT", b"\x01\x02")) is None
    # unknown ancillary chunk (lowercase first letter) -> still decodes
    w, h, ch, arr = parse_png(_with_chunk_after_ihdr(base, b"tEXt", b"k\x00v"))
    assert (w, h, ch) == (4, 3, 1) and np.array_equal(arr[:, :, 0], g)


def test_bmp_pixel_decode_roundtrip_and_variants():
    """r12: REAL BMP decode — encode_bmp/parse_bmp round-trip (24-bit
    RGB exact; 8-bit gray comes back as 3 equal planes via the
    grayscale palette), row padding at odd widths, top-down (negative
    height), hand-built 1-bit and 32bpp rasters, and the ancient
    BITMAPCOREHEADER."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import encode_bmp, parse_bmp

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, size=(5, 7, 3)).astype("u1")
    w, h, ch, back = parse_bmp(encode_bmp(rgb))
    assert (w, h, ch) == (7, 5, 3) and np.array_equal(back, rgb)
    g = rng.randint(0, 256, size=(4, 6)).astype("u1")
    w, h, ch, back = parse_bmp(encode_bmp(g))
    assert (w, h, ch) == (6, 4, 3)
    assert all(np.array_equal(back[:, :, i], g) for i in range(3))
    for wd in (1, 2, 3, 5):  # strides 4/8/12/16 exercise 0-3 pad bytes
        a = rng.randint(0, 256, size=(3, wd, 3)).astype("u1")
        assert np.array_equal(parse_bmp(encode_bmp(a))[3], a)
    # top-down: negate height, store rows in display order
    good = encode_bmp(rgb)
    stride = ((7 * 24 + 31) // 32) * 4
    td = bytearray(good)
    struct.pack_into("<i", td, 22, -5)
    body = bytes(td[54:])
    rows = [body[i * stride : (i + 1) * stride] for i in range(5)]
    td[54:] = b"".join(reversed(rows))
    assert np.array_equal(parse_bmp(bytes(td))[3], rgb)
    # 1-bit, MSB-first: 2x2 black/white checker, bottom-up
    pal = bytes((0, 0, 0, 0)) + bytes((255, 255, 255, 0))
    raster = bytes([0b10000000, 0, 0, 0, 0b01000000, 0, 0, 0])
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + 8 + 8, 0, 0, 14 + 40 + 8)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 1, 0, 8, 0, 0, 2, 0)
    w, h, ch, back = parse_bmp(hdr + dib + pal + raster)
    assert (w, h, ch) == (2, 2, 3)
    assert tuple(back[1, 0]) == (255, 255, 255) and tuple(back[0, 0]) == (0, 0, 0)
    # 32bpp BI_RGB: BGRX -> RGB, reserved 4th byte dropped (not alpha)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + 4, 0, 0, 14 + 40)
    dib = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 32, 0, 4, 0, 0, 0, 0)
    w, h, ch, back = parse_bmp(hdr + dib + bytes([10, 20, 30, 99]))
    assert ch == 3 and tuple(back[0, 0]) == (30, 20, 10)
    # BITMAPCOREHEADER: u16 dims, 3-byte palette entries, 8-bit
    core_pal = b"".join(bytes((v, v, v)) for v in (0, 128, 255))
    hdr = b"BM" + struct.pack("<IHHI", 14 + 12 + 9 + 4, 0, 0, 14 + 12 + 9)
    core = struct.pack("<IHHHH", 12, 2, 1, 1, 8)
    w, h, ch, back = parse_bmp(hdr + core + core_pal + bytes([2, 1, 0, 0]))
    assert (w, h, ch) == (2, 1, 3)
    assert tuple(back[0, 0]) == (255, 255, 255) and tuple(back[0, 1]) == (128, 128, 128)


def test_bmp_4bit_and_bitfields():
    """r12 extension: 4-bit palette rasters (two pixels per byte, high
    nibble first) and 32bpp BI_BITFIELDS with the standard BGRX masks —
    channels=4 REAL alpha when a V4+ header declares
    AlphaMask=0xFF000000, channels=3 otherwise; scrambled or 16bpp
    masks return None."""
    import struct

    from polars_express_spark.functions.multimodal import parse_bmp

    pal = b"".join(
        bytes((b, g, r, 0))
        for r, g, b in [(10, 20, 30), (40, 50, 60), (70, 80, 90), (1, 2, 3), (9, 8, 7)]
    )
    row_top = bytes([0x01, 0x20, 0, 0])  # pixels 0,1,2 (3 px, stride 4)
    row_bot = bytes([0x34, 0x00, 0, 0])  # pixels 3,4,0
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + 20 + 8, 0, 0, 14 + 40 + 20)
    dib = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 4, 0, 8, 0, 0, 5, 0)
    w, h, ch, arr = parse_bmp(hdr + dib + pal + row_bot + row_top)
    assert (w, h, ch) == (3, 2, 3)
    assert tuple(arr[0, 0]) == (10, 20, 30) and tuple(arr[0, 2]) == (70, 80, 90)
    assert tuple(arr[1, 1]) == (9, 8, 7) and tuple(arr[1, 2]) == (10, 20, 30)

    def bitfields(hsize, amask):
        px = bytes([10, 20, 30, 200])  # B G R A
        off_extra = 12 if hsize == 40 else 0
        off = 14 + hsize + off_extra
        out = b"BM" + struct.pack("<IHHI", off + 4, 0, 0, off)
        out += struct.pack("<IiiHHIIiiII", hsize, 1, 1, 1, 32, 3, 4, 0, 0, 0, 0)
        if hsize == 40:  # masks appended after the header
            out += struct.pack("<III", 0xFF0000, 0xFF00, 0xFF)
        else:  # V4+: masks are header fields
            out += struct.pack("<IIII", 0xFF0000, 0xFF00, 0xFF, amask)
            out += b"\x00" * (hsize - 40 - 16)
        return out + px

    w, h, ch, arr = parse_bmp(bitfields(40, 0))
    assert ch == 3 and tuple(arr[0, 0]) == (30, 20, 10)
    w, h, ch, arr = parse_bmp(bitfields(108, 0xFF000000))
    assert ch == 4 and tuple(arr[0, 0]) == (30, 20, 10, 200)
    assert parse_bmp(bitfields(108, 0))[2] == 3  # no alpha mask declared
    bad = bytearray(bitfields(40, 0))
    struct.pack_into("<III", bad, 54, 0xFF, 0xFF00, 0xFF0000)
    assert parse_bmp(bytes(bad)) is None  # scrambled masks
    bad16 = bytearray(bitfields(40, 0))
    struct.pack_into("<H", bad16, 28, 16)
    assert parse_bmp(bytes(bad16)) is None  # 565/555: not this tier


def test_bmp_corrupt_unsupported_fail_loud():
    """Corrupt/uncovered BMPs return None: truncated raster, bad magic,
    RLE/bitfields compression, palette-index overrun, pixel offset
    inside the header, zero dimensions."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import encode_bmp, parse_bmp

    rng = np.random.RandomState(4)
    good = encode_bmp(rng.randint(0, 256, size=(3, 4, 3)).astype("u1"))
    assert parse_bmp(good) is not None
    assert parse_bmp(good[:-5]) is None
    assert parse_bmp(b"XX" + good[2:]) is None
    bad = bytearray(good)
    struct.pack_into("<I", bad, 30, 1)  # BI_RLE8
    assert parse_bmp(bytes(bad)) is None
    bad = bytearray(good)
    struct.pack_into("<I", bad, 30, 3)  # BI_BITFIELDS
    assert parse_bmp(bytes(bad)) is None
    bad = bytearray(good)
    struct.pack_into("<i", bad, 18, 0)  # width 0
    assert parse_bmp(bytes(bad)) is None
    bad = bytearray(good)
    struct.pack_into("<I", bad, 10, 5)  # bfOffBits inside the header
    assert parse_bmp(bytes(bad)) is None
    # 8-bit raster referencing an index past the declared palette
    enc = bytearray(encode_bmp(np.array([[5]], dtype="u1")))
    struct.pack_into("<I", enc, 46, 4)  # biClrUsed -> 4, raster has 5
    assert parse_bmp(bytes(enc)) is None


def test_gif_lzw_roundtrip_and_decode_guards():
    """The pure-Python LZW pair round-trips across code-width bumps and
    the 4096-entry table reset, and the decoder rejects malformed
    streams: output past the declared size (the bomb cap), missing EOI,
    codes past the table."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    rng = np.random.RandomState(5)
    for n, mcs in [(0, 2), (1, 2), (300, 2), (5000, 4), (100_000, 8)]:
        data = rng.randint(0, 1 << mcs, size=n).astype("u1").tobytes()
        assert _gif_lzw_decode(mcs, _gif_lzw_encode(mcs, data), n) == data
    rep = (b"\x00" * 1000 + b"\x01\x00\x01" * 500) * 20  # deep chains + KwKwK
    assert _gif_lzw_decode(2, _gif_lzw_encode(2, rep), len(rep)) == rep
    enc = _gif_lzw_encode(2, bytes(100))
    assert _gif_lzw_decode(2, enc, 99) is None   # more pixels than declared
    assert _gif_lzw_decode(2, enc, 101) is None  # fewer pixels than declared
    assert _gif_lzw_decode(2, enc[:-2], 100) is None  # EOI truncated away
    assert _gif_lzw_decode(1, enc, 100) is None  # min code size out of range
    # first code after clear must be a literal: craft clear, then code 7
    # (past the 6-entry table) at 3-bit width -> bits 100 111 LSB-first
    assert _gif_lzw_decode(2, bytes([0b00111100]), 1) is None


def test_gif_pixel_decode_roundtrip_and_variants():
    """r12: REAL GIF decode — encode_gif/parse_gif round-trip over
    random palettes, plain AND interlaced row order, the max 256-entry
    table, a local color table overriding the global one, and skipped
    comment/opaque-GCE extensions."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import encode_gif, parse_gif

    rng = np.random.RandomState(6)
    pal = rng.randint(0, 256, size=(16, 3)).astype("u1")
    idx = rng.randint(0, 16, size=(9, 5)).astype("u1")
    for inter in (False, True):
        w, h, ch, back = parse_gif(encode_gif(idx, pal, interlaced=inter))
        assert (w, h, ch) == (5, 9, 3) and np.array_equal(back, pal[idx])
    pal256 = (np.arange(768, dtype="u2") % 256).astype("u1").reshape(256, 3)
    idx2 = rng.randint(0, 256, size=(40, 40)).astype("u1")
    assert np.array_equal(parse_gif(encode_gif(idx2, pal256))[3], pal256[idx2])
    # GIF87a (the older signature, no extensions) decodes identically
    g89 = encode_gif(idx, pal)
    g87 = b"GIF87a" + g89[6:]
    assert np.array_equal(parse_gif(g87)[3], pal[idx])
    # extensions before the image are skipped (comment, opaque GCE)
    g = encode_gif(idx, pal)
    pos = 13 + 3 * 16  # header + 16-entry GCT
    com = bytes([0x21, 0xFE, 3]) + b"abc" + bytes([0])
    gce = bytes([0x21, 0xF9, 4, 0x00, 0, 0, 0, 0])
    assert np.array_equal(parse_gif(g[:pos] + com + gce + g[pos:])[3], pal[idx])
    # local color table wins over the global one: rebuild with GCT
    # flag cleared and the palette moved after the image descriptor
    no_gct = bytearray(g)
    no_gct[10] &= 0x0F  # clear GCT flag (keep size bits harmlessly)
    del no_gct[13 : 13 + 3 * 16]
    # image descriptor now at 13: set LCT flag + size 3 (16 entries)
    assert no_gct[13] == 0x2C
    no_gct[22] = 0x80 | 3
    lct = bytes(no_gct[:23]) + pal.tobytes() + bytes(no_gct[23:])
    assert np.array_equal(parse_gif(lct)[3], pal[idx])


def test_gif_decoder_reads_foreign_lzw_strategy():
    """Interop evidence beyond the round-trip: parse_gif must decode a
    DIFFERENT valid LZW encoding of the same pixels — the classic
    'uncompressed GIF' strategy (every pixel emitted as a literal code,
    CLEAR issued before the table would force a width bump), which
    no code path in the repo encoder produces. Same pixels, entirely
    different bitstream."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import encode_gif, parse_gif

    def literal_lzw(min_code_size: int, data: bytes) -> bytes:
        clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
        width = min_code_size + 1
        out, acc, cnt = bytearray(), 0, 0

        def emit(code: int) -> None:
            nonlocal acc, cnt
            acc |= code << cnt
            cnt += width
            while cnt >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                cnt -= 8

        # decoder table after a clear holds clear+2 entries and grows by
        # one per literal after the first; stay strictly below 2**width
        budget = (1 << width) - (clear + 2) - 1
        emit(clear)
        since_clear = 0
        for b in data:
            if since_clear > budget:
                emit(clear)
                since_clear = 0
            emit(b)
            since_clear += 1
        emit(eoi)
        if cnt:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, size=(16, 3)).astype("u1")
    idx = rng.randint(0, 16, size=(23, 17)).astype("u1")  # > one clear cycle
    h, w = idx.shape
    comp = literal_lzw(4, idx.tobytes())
    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HH", w, h)
    gif += bytes([0x80 | 3, 0, 0])  # GCT, 16 entries
    gif += pal.tobytes()
    gif += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0, 4])
    for i in range(0, len(comp), 255):
        blk = comp[i : i + 255]
        gif.append(len(blk))
        gif += blk
    gif += bytes([0]) + b"\x3b"
    got = parse_gif(bytes(gif))
    assert got is not None
    assert np.array_equal(got[3], pal[idx])
    # and the two encodings really are different bitstreams
    assert bytes(gif) != encode_gif(idx, pal)


def test_gif_corrupt_unsupported_fail_loud():
    """GIFs this tier refuses, all None: declared transparency (no
    alpha to express it), a first frame smaller than the logical
    screen, truncation, no color table at all, palette-index overrun."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import encode_gif, parse_gif

    rng = np.random.RandomState(7)
    pal = rng.randint(0, 256, size=(4, 3)).astype("u1")
    idx = rng.randint(0, 4, size=(3, 3)).astype("u1")
    g = encode_gif(idx, pal)
    assert parse_gif(g) is not None
    assert parse_gif(g[:-4]) is None
    pos = 13 + 3 * 4
    trans = bytes([0x21, 0xF9, 4, 0x01, 0, 0, 0, 0])
    assert parse_gif(g[:pos] + trans + g[pos:]) is None
    part = bytearray(g)
    struct.pack_into("<H", part, pos + 5, 2)  # image width 2 != screen 3
    assert parse_gif(bytes(part)) is None
    no_tables = bytearray(g)
    no_tables[10] &= 0x0F
    del no_tables[13 : 13 + 3 * 4]
    assert parse_gif(bytes(no_tables)) is None
    # palette overrun: min code size 4 lets the LZW stream carry index
    # 7, but the declared GCT has only 4 entries (encode_gif can't
    # produce this by construction, so hand-build the container)
    from polars_express_spark.functions.multimodal import _gif_lzw_encode

    comp = _gif_lzw_encode(4, bytes([7] * 4))
    over = (
        b"GIF89a" + struct.pack("<HH", 2, 2) + bytes([0x80 | 1, 0, 0])
        + pal.tobytes()
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + bytes([0, 4])
        + bytes([len(comp)]) + comp + bytes([0]) + b"\x3b"
    )
    assert parse_gif(over) is None


def test_bmp_gif_through_pixel_operators(spark):
    """The r12 formats flow through the SAME operators as Netpbm/PNG:
    decode_pixel_stats reduces a mixed batch, real_resize re-encodes
    each family as itself (BMP→BMP, GIF→GIF, round-trip parsed), and
    real_extract computes tile-means from actual BMP/GIF pixels."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        encode_bmp,
        encode_gif,
        extract_features,
        parse_bmp,
        parse_gif,
        resize_media,
    )
    from polars_express_spark.functions.multimodal import decode_pixel_stats

    rng = np.random.RandomState(8)
    rgb = rng.randint(0, 256, size=(6, 8, 3)).astype("u1")
    pal = rng.randint(0, 256, size=(8, 3)).astype("u1")
    idx = rng.randint(0, 8, size=(6, 8)).astype("u1")
    bmp, gif = encode_bmp(rgb), encode_gif(idx, pal, interlaced=True)
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(gif))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_pixel_stats(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (8, 6, 3)
    assert got[1]["min_val"] == int(rgb.min()) and got[1]["max_val"] == int(rgb.max())
    assert abs(got[1]["mean_val"] - float(rgb.mean())) < 1e-9
    want = pal[idx]
    assert got[2]["min_val"] == int(want.min()) and got[2]["max_val"] == int(want.max())
    assert abs(got[2]["mean_val"] - float(want.mean())) < 1e-9

    res = {
        r["doc_id"]: bytes(r["payload"])
        for r in resize_media(df, width=4, height=3, real_resize=True).collect()
    }
    w, h, ch, arr = parse_bmp(res[1])
    assert (w, h, ch) == (4, 3, 3)
    yi = np.linspace(0, 5, 3).round().astype(int)
    xi = np.linspace(0, 7, 4).round().astype(int)
    assert np.array_equal(arr, rgb[yi][:, xi])
    w, h, ch, arr = parse_gif(res[2])
    assert (w, h, ch) == (4, 3, 3)
    assert np.array_equal(arr, want[yi][:, xi])

    feats = {
        r["doc_id"]: np.array(r["features"])
        for r in extract_features(df, dim=4, real_extract=True).collect()
    }
    gray = rgb.astype("float64").mean(axis=2).ravel()
    expect = np.array([c.mean() for c in np.array_split(gray, 4)], dtype="float32")
    expect = expect / expect.sum()
    assert np.allclose(feats[1], expect, atol=1e-6)


def test_jpeg_dc_exact_roundtrip():
    """r12: baseline JPEG — rasters constant within each 8x8 block
    round-trip BIT-EXACTLY under all-ones quant (DC = 8·(v−128) is an
    exact integer; proof in functions/jpeg.py), for gray, RGB 4:4:4,
    solid-color 4:2:0 (box downsample of a constant is the constant),
    and with restart markers in the stream."""
    import numpy as np

    from polars_express_spark.functions.jpeg import encode_jpeg, parse_jpeg

    rng = np.random.RandomState(11)
    p = rng.randint(0, 256, size=(4, 4)).astype("u1")
    img = p.repeat(8, axis=0).repeat(8, axis=1)
    w, h, ch, back = parse_jpeg(encode_jpeg(img))
    assert (w, h, ch) == (32, 32, 1) and np.array_equal(back[:, :, 0], img)
    prgb = rng.randint(0, 256, size=(2, 3, 3)).astype("u1")
    imgc = prgb.repeat(8, axis=0).repeat(8, axis=1)
    w, h, ch, back = parse_jpeg(encode_jpeg(imgc))
    assert (w, h, ch) == (24, 16, 3) and np.array_equal(back, imgc)
    solid = np.zeros((24, 24, 3), dtype="u1")
    solid[:] = (201, 77, 150)
    assert np.array_equal(parse_jpeg(encode_jpeg(solid, subsample=True))[3], solid)
    w, h, ch, back = parse_jpeg(encode_jpeg(img, restart_interval=3))
    assert np.array_equal(back[:, :, 0], img)


def test_jpeg_lossy_regimes_bounded():
    """General content is where JPEG is honestly lossy: with all-ones
    quant the only loss is coefficient rounding (tight bound, tested),
    with the Annex-K luminance table the loss is real quantization
    (decodes, bounded mean error), and 4:2:0 loses chroma detail but
    keeps shape and bounded error on smooth content."""
    import numpy as np

    from polars_express_spark.functions.jpeg import encode_jpeg, parse_jpeg

    rng = np.random.RandomState(12)
    g = rng.randint(0, 256, size=(17, 23)).astype("u1")
    w, h, ch, back = parse_jpeg(encode_jpeg(g))
    assert (w, h, ch) == (23, 17, 1)
    assert np.abs(back[:, :, 0].astype(int) - g.astype(int)).max() <= 8
    c = rng.randint(0, 256, size=(9, 14, 3)).astype("u1")
    back = parse_jpeg(encode_jpeg(c))[3]
    assert np.abs(back.astype(int) - c.astype(int)).max() <= 12
    stdq = np.array(
        [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
         14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
         18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
         49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99]
    ).reshape(8, 8)
    back = parse_jpeg(encode_jpeg(g, quant=stdq))[3]
    assert np.abs(back[:, :, 0].astype(int) - g.astype(int)).mean() < 60
    # smooth gradient under 4:2:0: bounded by chroma averaging
    yy, xx = np.mgrid[0:16, 0:24]
    smooth = np.stack([yy * 3 + 40, xx * 2 + 30, (yy + xx) * 2], axis=2).astype("u1")
    w, h, ch, back = parse_jpeg(encode_jpeg(smooth, subsample=True))
    assert (w, h, ch) == (24, 16, 3)
    assert np.abs(back.astype(int) - smooth.astype(int)).max() <= 12


def test_jpeg_corrupt_unsupported_fail_loud():
    """Streams parse_jpeg refuses, all None: truncation, progressive
    (SOF2) and arithmetic (SOF9) frames, 12-bit precision, a scan
    referencing an undefined Huffman table, EOI before any scan, and
    non-JPEG bytes."""
    import numpy as np

    from polars_express_spark.functions.jpeg import encode_jpeg, parse_jpeg

    img = (np.arange(256, dtype=np.int64) % 256).astype("u1").reshape(16, 16)
    good = encode_jpeg(img)
    assert parse_jpeg(good) is not None
    assert parse_jpeg(good[:-6]) is None
    assert parse_jpeg(b"not a jpeg") is None
    assert parse_jpeg(b"\xff\xd8\xff\xd9") is None
    sof_at = good.find(b"\xff\xc0")
    for marker in (0xC2, 0xC9):  # progressive / arithmetic
        bad = bytearray(good)
        bad[sof_at + 1] = marker
        assert parse_jpeg(bytes(bad)) is None
    bad = bytearray(good)
    bad[sof_at + 4] = 12  # precision byte
    assert parse_jpeg(bytes(bad)) is None
    # SOS selecting huffman table 3 which was never defined
    sos_at = good.find(b"\xff\xda")
    bad = bytearray(good)
    bad[sos_at + 6] = 0x33
    assert parse_jpeg(bytes(bad)) is None


def test_jpeg_through_pixel_operators(spark):
    """JPEG payloads flow through the same operators as the other four
    formats: decode_pixel_stats reduces them exactly (constant-block
    tier), and real_resize re-encodes as JPEG — lossy by nature, so
    the round-trip is bounded, not bit-exact."""
    import numpy as np

    from polars_express_spark.functions.jpeg import encode_jpeg, parse_jpeg
    from polars_express_spark.functions.multimodal import (
        decode_pixel_stats,
        resize_media,
    )

    rng = np.random.RandomState(13)
    p = rng.randint(0, 256, size=(4, 4)).astype("u1")
    img = p.repeat(8, axis=0).repeat(8, axis=1)
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(img)))], "doc_id long, payload binary"
    )
    row = decode_pixel_stats(df).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (32, 32, 1)
    assert row["min_val"] == int(p.min()) and row["max_val"] == int(p.max())
    assert abs(row["mean_val"] - float(p.mean())) < 1e-9
    out = resize_media(df, width=8, height=8, real_resize=True).collect()[0]
    w, h, ch, arr = parse_jpeg(bytes(out["payload"]))
    assert (w, h, ch) == (8, 8, 1)
    yi = np.linspace(0, 31, 8).round().astype(int)
    want = img[yi][:, yi]
    assert np.abs(arr[:, :, 0].astype(int) - want.astype(int)).max() <= 8


def test_mulaw_decode_and_audio_samples(spark):
    """r12 audio tier: mulaw_decode matches the stdlib reference
    (audioop.ulaw2lin) byte-for-byte on ALL 256 codes while that module
    still exists; encode_wav_mulaw wraps raw codes in a container
    parse_audio_header walks; decode_audio_samples reduces mu-law,
    16-bit PCM, and unsigned 8-bit PCM payloads to exact sample stats,
    and raises on format tags without a dependency-free decode."""
    import io
    import struct
    import wave

    import numpy as np
    import pytest

    from polars_express_spark.functions.multimodal import (
        decode_audio_samples,
        encode_wav_mulaw,
        mulaw_decode,
        parse_audio_header,
    )

    from polars_express_spark.functions.multimodal import alaw_decode

    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop  # deprecated, removed in 3.13

        ref = np.frombuffer(
            audioop.ulaw2lin(bytes(range(256)), 2), dtype="<i2"
        ).astype(np.int32)
        mine = mulaw_decode(np.arange(256, dtype=np.uint8))
        assert np.array_equal(mine, ref)
        ref_a = np.frombuffer(
            audioop.alaw2lin(bytes(range(256)), 2), dtype="<i2"
        ).astype(np.int32)
        assert np.array_equal(alaw_decode(np.arange(256, dtype=np.uint8)), ref_a)
    except ImportError:
        pass  # the DuckDB-oracle replay still covers the formula
    # known anchor codes: 0xFF -> 0, 0x7F -> 0, 0x00 -> -32124 (max neg)
    assert list(mulaw_decode(np.array([0xFF, 0x7F, 0x00, 0x80], dtype="u1"))) == [
        0, 0, -32124, 32124,
    ]

    codes = bytes([0x00, 0x45, 0x80, 0xC3, 0xFF])
    wav_mu = encode_wav_mulaw(codes, 8000)
    assert parse_audio_header(wav_mu) == (1, 8000, 8, 5)
    pcm16 = np.array([-300, 0, 17, 12345], dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(16000)
        wv.writeframes(pcm16.tobytes())
    wav_pcm = buf.getvalue()
    df = spark.createDataFrame(
        [(1, bytearray(wav_mu)), (2, bytearray(wav_pcm))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_audio_samples(df).collect()}
    want = mulaw_decode(np.frombuffer(codes, dtype=np.uint8))
    assert got[1]["n_samples"] == 5
    assert got[1]["min_pcm"] == int(want.min()) and got[1]["max_pcm"] == int(want.max())
    assert abs(got[1]["mean_pcm"] - float(want.mean())) < 1e-9
    assert (got[2]["min_pcm"], got[2]["max_pcm"]) == (-300, 12345)

    # A-law (tag 6) decodes through the same operator
    alaw_wav = bytearray(wav_mu)
    struct.pack_into("<H", alaw_wav, 20, 6)
    dfa = spark.createDataFrame([(4, bytes(alaw_wav))], "doc_id long, payload binary")
    row = decode_audio_samples(dfa).collect()[0]
    want_a = alaw_decode(np.frombuffer(codes, dtype=np.uint8))
    assert row["min_pcm"] == int(want_a.min()) and row["max_pcm"] == int(want_a.max())

    # MP3-in-WAV (tag 0x55) has no dependency-free decode -> raises
    # (IMA ADPCM, tag 0x11, IS decoded since r12 — see test_ima_adpcm_decode)
    bad = bytearray(wav_mu)
    struct.pack_into("<H", bad, 20, 0x55)
    dfb = spark.createDataFrame([(3, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="format tag|NotImplemented"):
        decode_audio_samples(dfb).collect()


def test_ima_adpcm_decode(spark):
    """r12: the first COMPRESSED audio codec — DVI/IMA ADPCM. The core
    step function matches stdlib audioop.adpcm2lin byte-for-byte from
    both the zero state and arbitrary seeded (value, index) states; the
    WAV tag-0x11 mono block layout (4-byte seed header, low-nibble-
    first data) decodes through decode_audio_samples, with the expected
    samples derived from the audioop-verified core seeded identically;
    malformed blocks (step index > 88) raise."""
    import struct

    import numpy as np
    import pytest

    from polars_express_spark.functions.multimodal import (
        adpcm_ima_decode,
        decode_audio_samples,
        encode_wav_mulaw,
    )

    rng = np.random.RandomState(15)
    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop

        for n in (1, 17, 400):
            data = bytes(rng.randint(0, 256, size=n).astype("u1"))
            ref = np.frombuffer(
                audioop.adpcm2lin(data, 2, None)[0], dtype="<i2"
            ).astype(np.int32)
            assert np.array_equal(adpcm_ima_decode(data), ref)
        for _ in range(5):  # seeded states
            state = (int(rng.randint(-32768, 32768)), int(rng.randint(0, 89)))
            data = bytes(rng.randint(0, 256, size=50).astype("u1"))
            ref = np.frombuffer(
                audioop.adpcm2lin(data, 2, state)[0], dtype="<i2"
            ).astype(np.int32)
            assert np.array_equal(adpcm_ima_decode(data, *state), ref)
    except ImportError:
        pass  # audioop removed (3.13+): the hand-computed check below remains

    # WAV tag 0x11 mono: one block, seed sample emitted verbatim, then
    # low-nibble-first data — expected derived from the same verified
    # core by repacking the nibble sequence high-first
    nibbles = list(rng.randint(0, 16, size=20))
    seed_val, seed_idx = -1234, 30
    low_first = bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, 20, 2)
    )
    high_first = bytes(
        (nibbles[i] << 4) | nibbles[i + 1] for i in range(0, 20, 2)
    )
    want = np.concatenate(
        [[seed_val], adpcm_ima_decode(high_first, seed_val, seed_idx)]
    )
    block = struct.pack("<hBB", seed_val, seed_idx, 0) + low_first
    # container: RIFF with fmt tag 0x11, 1ch, 4-bit, block_align = len(block)
    fmt = struct.pack("<HHIIHH", 0x11, 1, 8000, 4000, len(block), 4)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(block)) + block
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    row = decode_audio_samples(df).collect()[0]
    assert row["n_samples"] == len(want)
    assert row["min_pcm"] == int(want.min()) and row["max_pcm"] == int(want.max())
    assert abs(row["mean_pcm"] - float(want.mean())) < 1e-9

    # malformed: step index 99 in the block header
    bad = bytearray(wav)
    data_at = wav.find(b"data") + 8
    bad[data_at + 2] = 99
    dfb = spark.createDataFrame([(2, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="IMA-ADPCM|malformed"):
        decode_audio_samples(dfb).collect()


def test_pixel_formula_codepoint_parity(spark, ddb):
    """The round-trip oracles' code-point formula
    ascii(substr(text, (i % length(text)) + 1, 1)) % 256 must agree
    between Spark, DuckDB and the Python side that the multimodal
    corpus writers actually use (multimodal_corpus._codepoints, the
    skeleton's per-row UTF-32 decode, sampled by _samples) for ANY
    text, including supplementary-plane characters. Spark 4.1's ascii()
    returns the full code point (128512 for U+1F600, not the 0xD8xx
    high surrogate) and length()/substring() count code points, as
    DuckDB does. Pinned on astral, BMP-high and mixed strings, so a
    regression to UTF-16-code-unit semantics on any side fails HERE,
    not as an opaque oracle mismatch."""
    from polars_express_spark.queries.multimodal_corpus import (
        _codepoints,
        _samples,
    )

    texts = [
        "plain ascii",
        "café naïve",          # latin-1 supplement
        "�� tail",             # BMP-high (U+FFFD)
        "a\U0001f600b\U0001f680c",       # astral-plane emoji
        "\U0001f600",                    # single astral char
    ]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got_spark = {
        r["id"]: list(r["p"])
        for r in sdf.selectExpr(
            "id",
            "transform(sequence(0, 15),"
            " i -> ascii(substring(text, (i % length(text)) + 1, 1)) % 256) AS p",
        ).collect()
    }
    for i, t in enumerate(texts):
        got_duck = ddb.execute(
            "SELECT [ascii(substr(?, (i % length(?)) + 1, 1)) % 256"
            " for i in range(0, 16)]",
            [t, t],
        ).fetchone()[0]
        got_python = _samples(_codepoints(t), 16, 1).tolist()
        assert got_spark[i] == list(got_duck) == got_python, (
            t, got_spark[i], got_duck, got_python)


def test_png_real_resize_features_and_encoder_roundtrip(spark):
    """r11: encode_png is a valid writer (parse_png round-trips it
    bit-exactly for gray/RGB/RGBA at 8/16-bit), real_resize re-encodes
    PNG inputs as PNG with channels and depth preserved, and
    real_extract computes tile-mean features from actual PNG pixels —
    Netpbm and PNG payloads flow through the same operators together."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        encode_png,
        extract_features,
        parse_png,
        resize_media,
    )

    rng = np.random.RandomState(23)
    for shape, dtype in [((5, 4), "u1"), ((3, 6, 3), "u1"), ((2, 2, 4), "u1"),
                         ((4, 3), ">u2")]:
        a = rng.randint(0, 256 if dtype == "u1" else 65536, size=shape).astype(dtype)
        w, h, ch, back = parse_png(encode_png(a))
        want = a if a.ndim == 3 else a[:, :, None]
        assert np.array_equal(back.astype(want.dtype), want), (shape, dtype)

    rgb = rng.randint(0, 256, size=(10, 8, 3)).astype("u1")
    p6 = b"P6\n8 10\n255\n" + rgb.tobytes()
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(rgb))), (2, bytearray(p6))],
        "doc_id long, payload binary",
    )
    got = {
        r["doc_id"]: r
        for r in resize_media(df, width=4, height=5, real_resize=True).collect()
    }
    # PNG in -> PNG out; exact nearest-neighbor selection
    w1, h1, ch1, arr1 = parse_png(bytes(got[1]["payload"]))
    assert (w1, h1, ch1) == (4, 5, 3)
    yi = np.linspace(0, 9, 5).round().astype(int)
    xi = np.linspace(0, 7, 4).round().astype(int)
    assert np.array_equal(arr1, rgb[yi][:, xi])
    # the Netpbm sibling stays Netpbm
    assert bytes(got[2]["payload"])[:2] == b"P6"

    feats = {
        r["doc_id"]: np.array(r["features"])
        for r in extract_features(df, dim=4, real_extract=True).collect()
    }
    gray = rgb.astype("float64").mean(axis=2).ravel()
    want = np.array([c.mean() for c in np.array_split(gray, 4)], dtype="float32")
    want = want / want.sum()
    assert np.allclose(feats[1], want, atol=1e-6)
    assert np.allclose(feats[1], feats[2], atol=1e-6)  # same pixels, both formats


def test_png_subbyte_depths():
    """r13 — the last valid-PNG gate closed: 1/2/4-bit grayscale and
    palette round-trip bit-exactly through parse_png, across every
    scanline filter and Adam7 interlace, at widths that exercise the
    byte-boundary row padding (PNG spec §7.2). Decoded samples are RAW
    0..2**depth−1 values (the 16-bit no-rescale convention). The
    encoder here is the test-side independent one; the in-repo
    encode_png(depth=) write half round-trips too and rejects
    out-of-range samples."""
    import numpy as np
    import pytest

    from polars_express_spark.functions.multimodal import encode_png, parse_png

    rng = np.random.RandomState(13)
    for depth in (1, 2, 4):
        for (h, w) in [(1, 1), (3, 5), (7, 9), (4, 16), (5, 17)]:
            a = rng.randint(0, 1 << depth, size=(h, w)).astype("u1")
            for interlace in (False, True):
                png = _encode_png(
                    a, 0, depth, filters=[0, 1, 2, 3, 4], interlace=interlace
                )
                got = parse_png(png)
                assert got is not None, (depth, h, w, interlace)
                gw, gh, ch, arr = got
                assert (gw, gh, ch) == (w, h, 1)
                assert np.array_equal(arr[:, :, 0], a), (depth, h, w, interlace)
            # in-repo write half (filter-0, non-interlaced)
            gw, gh, ch, arr = parse_png(encode_png(a, depth=depth))
            assert (gw, gh, ch) == (w, h, 1) and np.array_equal(arr[:, :, 0], a)
    # sub-byte PALETTE: indices pack the same way, output is looked-up RGB
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])  # 4 entries
    idx = rng.randint(0, 4, size=(5, 7)).astype("u1")
    for depth in (2, 4):
        for interlace in (False, True):
            png = _encode_png(
                idx, 3, depth, filters=[4, 1], palette=pal, interlace=interlace
            )
            gw, gh, ch, arr = parse_png(png)
            assert (gw, gh, ch) == (7, 5, 3)
            want = np.frombuffer(pal, dtype="u1").reshape(-1, 3)[idx]
            assert np.array_equal(arr, want), (depth, interlace)
    # 1-bit palette (the classic bilevel file)
    bits = rng.randint(0, 2, size=(4, 10)).astype("u1")
    gw, gh, ch, arr = parse_png(
        _encode_png(bits, 3, 1, filters=[0], palette=pal[:6])
    )
    assert ch == 3
    assert np.array_equal(
        arr, np.frombuffer(pal[:6], dtype="u1").reshape(-1, 3)[bits]
    )
    # index past the palette at sub-byte depth still rejects
    over = np.full((2, 2), 3, dtype="u1")  # palette has 2 entries
    assert parse_png(_encode_png(over, 3, 2, filters=[0], palette=pal[:6])) is None
    # write-half guards
    with pytest.raises(ValueError, match="out of range"):
        encode_png(np.full((2, 2), 4, dtype="u1"), depth=2)
    with pytest.raises(ValueError, match="grayscale-only"):
        encode_png(np.zeros((2, 2, 3), dtype="u1"), depth=4)


def test_png_adler_trailer_required():
    """r13 (ADVICE): an IDAT zlib stream truncated exactly at the
    declared raster size — all pixel bytes present, adler32 trailer
    missing — must be rejected (d.eof), matching the strictness of the
    pre-cap one-shot zlib.decompress path."""
    import struct
    import zlib

    import numpy as np

    from polars_express_spark.functions.multimodal import encode_png, parse_png

    g = np.arange(48, dtype=np.uint8).reshape(6, 8)
    full = encode_png(g)
    pos, chunks = 8, {}
    while pos + 12 <= len(full):
        (length,) = struct.unpack(">I", full[pos : pos + 4])
        chunks[full[pos + 4 : pos + 8]] = full[pos + 8 : pos + 8 + length]
        pos += 12 + length
    cut = chunks[b"IDAT"][:-4]  # strip the adler32 trailer

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", chunks[b"IHDR"])
        + chunk(b"IDAT", cut) + chunk(b"IEND", b"")
    )
    assert parse_png(bad) is None
    assert parse_png(full) is not None  # the intact stream still decodes


def test_bmp_rgba_roundtrip_and_truncation(spark):
    """r13 (ADVICE ×2): encode_bmp writes 4-channel arrays as 32-bit V4
    BI_BITFIELDS with AlphaMask, bit-exact through parse_bmp's alpha
    path — so resize_media can re-encode a decoded alpha BMP instead of
    crashing; and EVERY truncated prefix of such a file returns None
    (the 66–69-byte V4 header prefix used to raise struct.error)."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        encode_bmp,
        parse_bmp,
        resize_media,
    )

    rng = np.random.RandomState(13)
    rgba = rng.randint(0, 256, size=(6, 5, 4)).astype("u1")
    bmp = encode_bmp(rgba)
    w, h, ch, arr = parse_bmp(bmp)
    assert (w, h, ch) == (5, 6, 4) and np.array_equal(arr, rgba)
    for n in range(len(bmp)):
        assert parse_bmp(bmp[:n]) is None, f"prefix of {n} bytes must be None"
    # resize over the alpha BMP: stays BMP, stays 4-channel, exact NN
    df = spark.createDataFrame([(1, bytearray(bmp))], "doc_id long, payload binary")
    out = resize_media(df, width=3, height=4, real_resize=True).collect()[0]
    w2, h2, ch2, arr2 = parse_bmp(bytes(out["payload"]))
    assert (w2, h2, ch2) == (3, 4, 4)
    yi = np.linspace(0, 5, 4).round().astype(int)
    xi = np.linspace(0, 4, 3).round().astype(int)
    assert np.array_equal(arr2, rgba[yi][:, xi])


def test_decode_media_jpeg_real(spark):
    """r13 (VERDICT r12 finding #2): a real JPEG through
    decode_media(real_decode=True) yields its true dimensions — the
    metadata path must never hit the Pillow gate for a format the
    in-tree codecs handle (parse_image_header reads the SOF segment;
    the full parse_jpeg decoder backstops it before the gate)."""
    import numpy as np

    from polars_express_spark.functions.jpeg import encode_jpeg
    from polars_express_spark.functions.multimodal import decode_media

    rng = np.random.RandomState(13)
    gray = rng.randint(0, 256, size=(16, 24)).astype("u1")
    rgb = rng.randint(0, 256, size=(8, 8, 3)).astype("u1")
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(gray))), (2, bytearray(encode_jpeg(rgb)))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_media(df, real_decode=True).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (24, 16, 1)
    assert (got[2]["width"], got[2]["height"], got[2]["channels"]) == (8, 8, 3)


def test_ima_adpcm_stereo(spark):
    """r13 — the last ADPCM gate closed: WAV tag-0x11 STEREO blocks
    (4-byte header per channel, data in 4-byte groups alternating
    channels) decode frame-interleaved through decode_audio_samples,
    each channel byte-exact vs the audioop-verified mono core seeded
    with that channel's header state; a partial channel group is
    malformed and raises."""
    import struct

    import numpy as np
    import pytest

    from polars_express_spark.functions.multimodal import (
        _wav_ima_blocks_decode,
        adpcm_ima_decode,
        decode_audio_samples,
    )

    rng = np.random.RandomState(15)
    nL = bytes(rng.randint(0, 256, size=16).astype("u1"))  # 4 groups
    nR = bytes(rng.randint(0, 256, size=16).astype("u1"))
    seeds = ((-1234, 30), (4000, 60))
    groups = np.stack(
        [np.frombuffer(nL, dtype="u1").reshape(-1, 4),
         np.frombuffer(nR, dtype="u1").reshape(-1, 4)],
        axis=1,
    ).tobytes()
    block = (
        struct.pack("<hBB", *seeds[0], 0)
        + struct.pack("<hBB", *seeds[1], 0)
        + groups
    )
    wantL = np.concatenate(
        [[seeds[0][0]], adpcm_ima_decode(nL, *seeds[0], low_first=True)]
    )
    wantR = np.concatenate(
        [[seeds[1][0]], adpcm_ima_decode(nR, *seeds[1], low_first=True)]
    )
    pcm = _wav_ima_blocks_decode(block, len(block), channels=2).reshape(-1, 2)
    assert np.array_equal(pcm[:, 0], wantL) and np.array_equal(pcm[:, 1], wantR)

    # two blocks end-to-end through the WAV container + Spark operator
    data = block + block
    fmt = struct.pack("<HHIIHH", 0x11, 2, 8000, 8000, len(block), 4)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    row = decode_audio_samples(df).collect()[0]
    want = np.concatenate([np.stack([wantL, wantR], axis=1).ravel()] * 2)
    assert row["n_samples"] == len(want)
    assert row["min_pcm"] == int(want.min()) and row["max_pcm"] == int(want.max())
    assert abs(row["mean_pcm"] - float(want.mean())) < 1e-9

    # malformed: body not a whole number of 4-byte channel groups
    ragged = block[:-2]
    fmt_r = struct.pack("<HHIIHH", 0x11, 2, 8000, 8000, len(ragged), 4)
    body_r = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt_r)) + fmt_r
        + b"data" + struct.pack("<I", len(ragged)) + ragged
    )
    wav_r = b"RIFF" + struct.pack("<I", len(body_r)) + body_r
    dfr = spark.createDataFrame([(2, bytearray(wav_r))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="IMA-ADPCM|malformed"):
        decode_audio_samples(dfr).collect()


def test_alaw_wav_roundtrip(spark):
    """r13: encode_wav_alaw writes a valid tag-6 container and
    decode_audio_samples expands it through alaw_decode — the
    operator-level twin of the audioop byte-exactness pin, and the
    pytest half of the q_multimodal_alaw driver query."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        alaw_decode,
        decode_audio_samples,
        encode_wav_alaw,
        parse_audio_header,
    )

    codes = bytes(range(256))
    wav = encode_wav_alaw(codes, sample_rate=16000)
    assert parse_audio_header(wav) == (1, 16000, 8, 256)
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    row = decode_audio_samples(df).collect()[0]
    want = alaw_decode(np.frombuffer(codes, dtype=np.uint8))
    assert row["n_samples"] == 256
    assert row["min_pcm"] == int(want.min()) and row["max_pcm"] == int(want.max())
    assert abs(row["mean_pcm"] - float(want.mean())) < 1e-9


def _bmp_file(w, h, bits, compression, body, pal=b"", masks=b""):
    """Minimal BMP assembler for the r13 RLE/16bpp tests: 40-byte
    BITMAPINFOHEADER, optional BI_BITFIELDS masks, optional palette."""
    import struct

    off = 14 + 40 + len(masks) + len(pal)
    header = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bits, compression, len(body),
        2835, 2835, len(pal) // 4 if pal else 0, 0,
    )
    return header + dib + masks + pal + body


def test_bmp_rle_decode():
    """r13 — BI_RLE8/BI_RLE4 decode: encoded runs, word-aligned
    absolute mode, EOL/EOB/delta escapes (delta-skipped cells fill
    with palette index 0, the GDI convention), RLE4's alternating
    nibbles; structural violations — row overrun, missing EOB,
    truncated literal, top-down RLE — all return None."""
    import numpy as np

    from polars_express_spark.functions.multimodal import parse_bmp

    gray_pal = bytes(v for g in range(256) for v in (g, g, g, 0))
    # 4x3 target (top-down): runs, absolute mode, delta, EOL, EOB
    want = np.array(
        [[7, 7, 7, 2], [0, 5, 5, 0], [9, 9, 9, 9]], dtype="u1"
    )
    s = bytes(
        [4, 9, 0, 0]            # bottom row: run 4×9, EOL
        + [0, 2, 1, 0, 2, 5, 0, 0]  # delta right 1, run 2×5, EOL
        + [0, 3, 7, 7, 7, 0]    # absolute: 3 literals + pad byte
        + [1, 2, 0, 1]          # run 1×2, EOB
    )
    got = parse_bmp(_bmp_file(4, 3, 8, 1, s, pal=gray_pal))
    assert got is not None
    w, h, ch, arr = got
    assert (w, h, ch) == (4, 3, 3) and np.array_equal(arr[:, :, 0], want)
    # malformed: no EOB / run past the row edge / literal truncated
    assert parse_bmp(_bmp_file(4, 3, 8, 1, s[:-2], pal=gray_pal)) is None
    assert parse_bmp(_bmp_file(4, 3, 8, 1, bytes([5, 1, 0, 1]), pal=gray_pal)) is None
    assert parse_bmp(_bmp_file(4, 3, 8, 1, bytes([0, 3, 7, 7]), pal=gray_pal)) is None
    # top-down (negative height) RLE is invalid per spec
    import struct as _s
    f = bytearray(_bmp_file(4, 3, 8, 1, s, pal=gray_pal))
    _s.pack_into("<i", f, 22, -3)
    assert parse_bmp(bytes(f)) is None
    # RLE4: absolute nibbles + alternating run
    pal4 = bytes(v for g in range(16) for v in (g * 17, g * 17, g * 17, 0))
    want4 = np.array([[1, 2, 1, 2, 1], [3, 4, 5, 0, 0]], dtype="u1")
    s4 = bytes([0, 3, 0x34, 0x50, 0, 0, 5, 0x12, 0, 1])
    got4 = parse_bmp(_bmp_file(5, 2, 4, 2, s4, pal=pal4))
    assert got4 is not None
    assert np.array_equal(got4[3][:, :, 0] // 17, want4)
    # mode/bits mismatch: RLE8 header over 4-bit data
    assert parse_bmp(_bmp_file(5, 2, 4, 1, s4, pal=pal4)) is None


def test_bmp_16bpp_555_565():
    """r13 — 16bpp BMP in both canonical packings: BI_RGB defaults to
    555, BI_BITFIELDS selects 555 or 565 by its masks; fields expand
    with the GDI bit-replication idiom ((v<<3)|(v>>2) / (v<<2)|(v>>4)).
    Nonstandard masks and 16bpp alpha masks return None; every
    truncated prefix returns None."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import parse_bmp

    rng = np.random.RandomState(13)
    w, h = 3, 2
    stride = ((w * 16 + 31) // 32) * 4

    def body_of(vals):
        rows = np.zeros((h, stride), dtype="u1")
        rows[:, : w * 2] = np.frombuffer(
            vals.astype("<u2").tobytes(), dtype="u1"
        ).reshape(h, w * 2)
        return rows[::-1].tobytes()  # bottom-up

    v555 = rng.randint(0, 1 << 15, size=(h, w)).astype("u2")
    got = parse_bmp(_bmp_file(w, h, 16, 0, body_of(v555)))
    assert got is not None and got[2] == 3
    r, g, b = (v555 >> 10) & 0x1F, (v555 >> 5) & 0x1F, v555 & 0x1F
    exp = np.stack(
        [(r << 3) | (r >> 2), (g << 3) | (g >> 2), (b << 3) | (b >> 2)], axis=2
    ).astype("u1")
    assert np.array_equal(got[3], exp)

    v565 = rng.randint(0, 1 << 16, size=(h, w)).astype("u2")
    m565 = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    full = _bmp_file(w, h, 16, 3, body_of(v565), masks=m565)
    got = parse_bmp(full)
    assert got is not None
    r, g, b = (v565 >> 11) & 0x1F, (v565 >> 5) & 0x3F, v565 & 0x1F
    exp = np.stack(
        [(r << 3) | (r >> 2), (g << 2) | (g >> 4), (b << 3) | (b >> 2)], axis=2
    ).astype("u1")
    assert np.array_equal(got[3], exp)
    # BI_BITFIELDS with the 555 masks decodes as 555
    m555 = struct.pack("<III", 0x7C00, 0x03E0, 0x001F)
    got555 = parse_bmp(_bmp_file(w, h, 16, 3, body_of(v555), masks=m555))
    assert got555 is not None and np.array_equal(
        got555[3], parse_bmp(_bmp_file(w, h, 16, 0, body_of(v555)))[3]
    )
    # scrambled masks rejected
    bad = struct.pack("<III", 0x0F00, 0x00F0, 0x000F)
    assert parse_bmp(_bmp_file(w, h, 16, 3, body_of(v565), masks=bad)) is None
    # truncated prefixes never raise
    for n in range(len(full)):
        assert parse_bmp(full[:n]) is None


def _make_animated_gif(w, h, frame_specs, gct, bg_idx=0):
    """Test-side animated-GIF assembler (r13): logical screen + GCT,
    then per frame an optional GCE (disposal/transparency), an image
    descriptor (offset, optional LCT, optional interlace), and LZW
    data. frame_specs: dicts with idx (ih,iw u1), left, top, disposal,
    transparent, lct, interlaced."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import _gif_lzw_encode

    def size_field(n_entries):
        k = 0
        while (2 << k) < n_entries:
            k += 1
        assert (2 << k) == n_entries, "palette sizes must be 2<<k"
        return k

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | size_field(len(gct) // 3), bg_idx, 0])
    out += gct
    for f in frame_specs:
        idx = f["idx"]
        ih, iw = idx.shape
        if f.get("transparent") is not None or f.get("disposal"):
            flags = ((f.get("disposal", 0) & 7) << 2) | (
                1 if f.get("transparent") is not None else 0
            )
            out += bytes([0x21, 0xF9, 4, flags, 0, 0, f.get("transparent") or 0, 0])
        lct = f.get("lct")
        ipacked = 0
        if lct is not None:
            ipacked |= 0x80 | size_field(len(lct) // 3)
        data = idx
        if f.get("interlaced"):
            ipacked |= 0x40
            order = np.r_[0:ih:8, 4:ih:8, 2:ih:4, 1:ih:2]
            data = idx[order]
        out += b"\x2c" + struct.pack(
            "<HHHH", f.get("left", 0), f.get("top", 0), iw, ih
        ) + bytes([ipacked])
        if lct is not None:
            out += lct
        n_pal = len(lct or gct) // 3
        mcs = max(2, (n_pal - 1).bit_length())
        comp = _gif_lzw_encode(mcs, data.tobytes())
        out += bytes([mcs])
        for i in range(0, len(comp), 255):
            blk = comp[i : i + 255]
            out.append(len(blk))
            out += blk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_gif_animation_compositing():
    """r13 — parse_gif_frames: every frame of an animation composites
    per the GIF89a disposal model. Later frames may be partial and
    transparent (the show-through is the PREVIOUS canvas — defined
    compositing); disposal 2 restores the region to the declared
    background, disposal 3 to the pre-frame canvas; LCT overrides GCT
    per frame; interlaced sub-frames deinterlace. Undefined-canvas
    shapes (partial/transparent/restore-to-previous FIRST frame,
    disposal 2 without a usable background) return None."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        encode_gif,
        parse_gif,
        parse_gif_frames,
    )

    rng = np.random.RandomState(13)
    gct = bytes(rng.randint(0, 256, size=16 * 3).astype("u1"))
    pal = np.frombuffer(gct, dtype="u1").reshape(-1, 3)
    w, h = 7, 5
    base = rng.randint(0, 16, size=(h, w)).astype("u1")

    # frame 2: opaque 3x2 patch at (2,1); frame 3: transparent patch
    patch = rng.randint(0, 16, size=(2, 3)).astype("u1")
    tpatch = rng.randint(0, 16, size=(2, 3)).astype("u1")
    tpatch[0, 1] = 15  # transparent index
    gif = _make_animated_gif(
        w, h,
        [
            {"idx": base},
            {"idx": patch, "left": 2, "top": 1},
            {"idx": tpatch, "left": 4, "top": 3, "transparent": 15},
        ],
        gct,
    )
    got = parse_gif_frames(gif)
    assert got is not None
    gw, gh, frames = got
    assert (gw, gh, len(frames)) == (w, h, 3)
    c0 = pal[base]
    assert np.array_equal(frames[0], c0)
    c1 = c0.copy()
    c1[1:3, 2:5] = pal[patch]
    assert np.array_equal(frames[1], c1)
    c2 = c1.copy()
    m = tpatch != 15
    c2[3:5, 4:7][m] = pal[tpatch][m]
    assert np.array_equal(frames[2], c2)

    # disposal 2 (restore to background) and 3 (restore to previous)
    gif_d = _make_animated_gif(
        w, h,
        [
            {"idx": base},
            {"idx": patch, "left": 0, "top": 0, "disposal": 2},
            {"idx": patch, "left": 3, "top": 2, "disposal": 3},
            {"idx": tpatch, "left": 0, "top": 0, "transparent": 15},
        ],
        gct, bg_idx=5,
    )
    got = parse_gif_frames(gif_d)
    assert got is not None
    frames = got[2]
    d1 = pal[base].copy()
    d1[0:2, 0:3] = pal[patch]  # frame 2 drawn
    assert np.array_equal(frames[1], d1)
    after_d2 = pal[base].copy()  # then its region restores to bg
    after_d2[0:2, 0:3] = pal[5]
    d2 = after_d2.copy()
    d2[2:4, 3:6] = pal[patch]  # frame 3 drawn on the restored canvas
    assert np.array_equal(frames[2], d2)
    d3 = after_d2.copy()  # frame 3 disposes to ITS pre-frame canvas
    mm = tpatch != 15
    d3[0:2, 0:3][mm] = pal[tpatch][mm]
    assert np.array_equal(frames[3], d3)

    # LCT over GCT in a later frame + interlaced sub-frame
    lct = bytes(rng.randint(0, 256, size=4 * 3).astype("u1"))
    lpal = np.frombuffer(lct, dtype="u1").reshape(-1, 3)
    tall = rng.randint(0, 4, size=(5, 3)).astype("u1")
    gif_l = _make_animated_gif(
        w, h,
        [{"idx": base}, {"idx": tall, "left": 1, "top": 0, "lct": lct,
                         "interlaced": True}],
        gct,
    )
    got = parse_gif_frames(gif_l)
    assert got is not None
    l1 = pal[base].copy()
    l1[0:5, 1:4] = lpal[tall]
    assert np.array_equal(got[2][1], l1)

    # single-frame: agrees with parse_gif on the repo encoder's output
    single = encode_gif(base, pal)
    sf = parse_gif_frames(single)
    assert sf is not None and len(sf[2]) == 1
    assert np.array_equal(sf[2][0], parse_gif(single)[3])

    # undefined-canvas shapes reject
    assert parse_gif_frames(
        _make_animated_gif(w, h, [{"idx": patch, "left": 2, "top": 1}], gct)
    ) is None  # partial first frame
    assert parse_gif_frames(
        _make_animated_gif(w, h, [{"idx": base, "transparent": 15}], gct)
    ) is None  # transparent first frame
    assert parse_gif_frames(
        _make_animated_gif(w, h, [{"idx": base, "disposal": 3}], gct)
    ) is None  # restore-to-previous with no previous
    assert parse_gif_frames(
        _make_animated_gif(
            w, h, [{"idx": base}, {"idx": patch, "disposal": 2}], gct,
            bg_idx=200,
        )
    ) is None  # disposal 2 with background index past the GCT
    # truncated prefixes never raise
    for n in range(0, len(gif_d), 7):
        assert parse_gif_frames(gif_d[:n]) is None


def test_sample_frames_gif_animation(spark):
    """r13 — sample_frames(real_decode=True) demuxes animated GIFs:
    n_frames evenly-sampled canvas snapshots come back as VALID PNGs
    whose pixels equal the reference compositing; an AVI sibling still
    routes through the RIFF demux path."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        parse_gif_frames,
        parse_png,
        sample_frames,
    )

    rng = np.random.RandomState(7)
    gct = bytes(rng.randint(0, 256, size=8 * 3).astype("u1"))
    w, h = 6, 4
    specs = [{"idx": rng.randint(0, 8, size=(h, w)).astype("u1")}]
    for k in range(5):
        specs.append(
            {"idx": rng.randint(0, 8, size=(2, 2)).astype("u1"),
             "left": k, "top": k % 3}
        )
    gif = _make_animated_gif(w, h, specs, gct)
    want = parse_gif_frames(gif)[2]  # 6 frames
    df = spark.createDataFrame([(1, bytearray(gif))], "doc_id long, payload binary")
    rows = sorted(
        sample_frames(df, n_frames=4, real_decode=True).collect(),
        key=lambda r: r["frame_no"],
    )
    assert [r["frame_no"] for r in rows] == [0, 1, 2, 3]
    take = np.unique(np.linspace(0, 5, 4).round().astype(int))
    for r, i in zip(rows, take):
        pw, ph, ch, arr = parse_png(bytes(r["frame"]))
        assert (pw, ph, ch) == (w, h, 3)
        assert np.array_equal(arr, want[i])


def test_netpbm_full_family(spark):
    """r13 — the whole Netpbm family decodes: plain-ASCII P2/P3
    (tokenized samples, comments anywhere, 16-bit via maxval), and
    both bitmap forms (P1 digits with optional separators, P4 packed
    MSB-first rows) beside the r9 binary P5/P6. Bitmaps return RAW
    0/1 samples (1 = black per the PBM spec). Plain rasters are
    strict: sample > maxval, non-digit, short raster, or trailing
    junk → None. resize_media re-encodes plain variants as their
    binary siblings (P1/P4 → P4, P2 → P5, P3 → P6), maxval preserved."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        parse_netpbm,
        resize_media,
    )

    p2 = b"P2 # gray\n3 2\n# c\n1000\n0 500 1000\n7 8 9\n"
    w, h, ch, arr = parse_netpbm(p2)
    assert (w, h, ch) == (3, 2, 1) and arr.dtype.str == ">u2"
    assert np.array_equal(arr[:, :, 0], [[0, 500, 1000], [7, 8, 9]])

    p3 = b"P3\n2 1 255\n255 0 0  0 255 0\n"
    w, h, ch, arr = parse_netpbm(p3)
    assert (w, h, ch) == (2, 1, 3)
    assert np.array_equal(arr[0], [[255, 0, 0], [0, 255, 0]])

    assert parse_netpbm(b"P2\n2 1 10\n5 11\n") is None   # > maxval
    assert parse_netpbm(b"P2\n2 1 10\n5 6 7\n") is None  # trailing junk
    assert parse_netpbm(b"P2\n2 1 10\n5\n") is None      # short
    assert parse_netpbm(b"P3\n1 1 255\n1 x 3\n") is None  # non-digit
    # r14 ADVICE: out-of-range samples must be rejected BEFORE the
    # numpy cast — 300 % 256 = 44 would wrap under u1 and sneak past a
    # post-hoc max() check (or raise OverflowError on numpy>=2); and
    # int()'s lenient forms ('+5', '1_0') are not spec plain samples
    assert parse_netpbm(b"P2\n2 1 255\n5 300\n") is None   # wraps to 44
    assert parse_netpbm(b"P3\n1 1 255\n1 2 999\n") is None
    assert parse_netpbm(b"P2\n2 1 10\n+5 6\n") is None     # lenient int
    assert parse_netpbm(b"P2\n2 1 10\n1_0 6\n") is None    # lenient int

    p1 = b"P1\n# bitmap\n5 2\n01101\n1 0 0 1 1\n"
    w, h, ch, arr = parse_netpbm(p1)
    assert (w, h, ch) == (5, 2, 1)
    assert np.array_equal(arr[:, :, 0], [[0, 1, 1, 0, 1], [1, 0, 0, 1, 1]])
    assert parse_netpbm(b"P1\n2 1\n02\n") is None  # digit out of range
    assert parse_netpbm(b"P1\n2 1\n0\n") is None   # short

    bits = np.random.RandomState(5).randint(0, 2, size=(3, 10)).astype("u1")
    rows = np.zeros((3, 16), dtype="u1")
    rows[:, :10] = bits
    p4 = b"P4\n10 3\n" + np.packbits(rows, axis=1).tobytes()
    w, h, ch, arr = parse_netpbm(p4)
    assert (w, h, ch) == (10, 3, 1) and np.array_equal(arr[:, :, 0], bits)
    assert parse_netpbm(p4[:-1]) is None  # truncated raster

    df = spark.createDataFrame(
        [(1, bytearray(p1)), (2, bytearray(p2)), (3, bytearray(p4)),
         (4, bytearray(p3))],
        "doc_id long, payload binary",
    )
    got = {
        r["doc_id"]: bytes(r["payload"])
        for r in resize_media(df, width=2, height=2, real_resize=True).collect()
    }
    for d, pay in got.items():
        g = parse_netpbm(pay)
        assert g is not None and (g[0], g[1]) == (2, 2), d
    assert got[1][:2] == b"P4" and got[3][:2] == b"P4"
    assert got[2][:2] == b"P5" and b"1000" in got[2][:20]  # maxval preserved
    assert got[4][:2] == b"P6"


def test_wav_extensible_format(spark):
    """r13 — WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE, the modern writer
    default): decode_audio_samples resolves the real format from the
    SubFormat GUID over the fixed Microsoft base, so extensible PCM16
    and extensible mu-law decode identically to their plain-tag twins;
    a GUID off the standard base stays NotImplementedError."""
    import struct

    import numpy as np
    import pytest

    from polars_express_spark.functions.multimodal import (
        decode_audio_samples,
        mulaw_decode,
    )

    base_tail = b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"

    def ext_wav(sub_tag, ch, bits, data):
        fmt = struct.pack(
            "<HHIIHH", 0xFFFE, ch, 8000, 8000 * ch * bits // 8,
            ch * bits // 8, bits,
        )
        fmt += struct.pack("<HHI", 22, bits, 0)  # cbSize, valid bits, mask
        fmt += struct.pack("<H", sub_tag) + base_tail
        body = (
            b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    rng = np.random.RandomState(15)
    pcm = rng.randint(-32768, 32768, size=50).astype("<i2")
    codes = bytes(rng.randint(0, 256, size=64).astype("u1"))
    df = spark.createDataFrame(
        [(1, bytearray(ext_wav(1, 1, 16, pcm.tobytes()))),
         (2, bytearray(ext_wav(7, 1, 8, codes)))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_audio_samples(df).collect()}
    assert got[1]["n_samples"] == 50
    assert got[1]["min_pcm"] == int(pcm.min()) and got[1]["max_pcm"] == int(pcm.max())
    want = mulaw_decode(np.frombuffer(codes, dtype=np.uint8))
    assert got[2]["n_samples"] == 64
    assert abs(got[2]["mean_pcm"] - float(want.mean())) < 1e-9

    # nonstandard GUID base: NOT silently decoded as PCM
    bad = bytearray(ext_wav(1, 1, 16, pcm.tobytes()))
    bad[bad.find(base_tail) + 10] ^= 0xFF
    dfb = spark.createDataFrame([(3, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="format tag|NotImplemented"):
        decode_audio_samples(dfb).collect()


def test_au_container_decode(spark):
    """r13 — Sun Au (.au/.snd), the canonical G.711 container:
    decode_audio_samples handles all four dependency-free encodings —
    mu-law, A-law, 8-bit SIGNED linear (the Au convention; WAV PCM8 is
    unsigned), 16-bit big-endian — plus the unknown-length sentinel
    and annotation-padded headers. An unsupported encoding raises."""
    import struct

    import numpy as np
    import pytest

    from polars_express_spark.functions.multimodal import (
        alaw_decode,
        decode_audio_samples,
        mulaw_decode,
        parse_au_header,
    )

    rng = np.random.RandomState(15)

    def au(enc, data, hdr_pad=b"", data_size=None):
        hdr = struct.pack(
            ">4sIIIII", b".snd", 24 + len(hdr_pad),
            len(data) if data_size is None else data_size, enc, 8000, 1,
        )
        return hdr + hdr_pad + data

    codes = bytes(rng.randint(0, 256, size=64).astype("u1"))
    pcm8 = rng.randint(-128, 128, size=50).astype(np.int8)
    pcm16 = rng.randint(-32768, 32768, size=40).astype(">i2")
    rows_in = [
        (1, au(1, codes)),
        (2, au(27, codes, hdr_pad=b"annotation\x00\x00")),  # padded header
        (3, au(2, pcm8.tobytes())),
        (4, au(3, pcm16.tobytes(), data_size=0xFFFFFFFF)),  # unknown length
    ]
    df = spark.createDataFrame(
        [(d, bytearray(p)) for d, p in rows_in], "doc_id long, payload binary"
    )
    got = {r["doc_id"]: r for r in decode_audio_samples(df).collect()}
    for d, want in (
        (1, mulaw_decode(np.frombuffer(codes, dtype=np.uint8))),
        (2, alaw_decode(np.frombuffer(codes, dtype=np.uint8))),
        (3, pcm8.astype(np.int32)),
        (4, pcm16.astype(np.int32)),
    ):
        assert got[d]["n_samples"] == len(want), d
        assert got[d]["min_pcm"] == int(want.min()), d
        assert got[d]["max_pcm"] == int(want.max()), d
        assert abs(got[d]["mean_pcm"] - float(want.mean())) < 1e-9, d

    # header metadata, including a truncated header → None
    assert parse_au_header(au(1, codes))[:4] == (1, 8000, 8, 64)
    assert parse_au_header(au(1, codes)[:20]) is None
    assert parse_au_header(b"FORM" + au(1, codes)[4:]) is None

    # unsupported encoding (e.g. 64-bit float = 7) raises
    dfb = spark.createDataFrame(
        [(9, bytearray(au(7, b"\x00" * 16)))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="Au encoding"):
        decode_audio_samples(dfb).collect()


def test_encode_au_and_encode_netpbm_writers():
    """r14 — the writer twins behind the q_multimodal_au /
    q_multimodal_netpbm driver round trips. encode_au must agree
    byte-for-byte with an independently struct-packed header
    (annotation padding and the unknown-length sentinel included);
    encode_netpbm must round-trip every family format through
    parse_netpbm, including 16-bit P5 and depth-2 PAM."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import (
        encode_au,
        encode_netpbm,
        parse_au_header,
        parse_netpbm,
    )

    rng = np.random.RandomState(14)
    data = bytes(rng.randint(0, 256, size=64).astype("u1"))
    want = struct.pack(">4sIIIII", b".snd", 28, 0xFFFFFFFF, 27, 8000, 1)
    assert encode_au(data, 27, annotation=b"\x00" * 4, unknown_size=True) == (
        want + b"\x00" * 4 + data
    )
    assert parse_au_header(encode_au(data, 3))[:5] == (1, 8000, 16, 32, 3)

    for fmt, ch, mx in [("P1", 1, 1), ("P2", 1, 255), ("P3", 3, 255),
                        ("P4", 1, 1), ("P5", 1, 1000), ("P6", 3, 255),
                        ("P7", 2, 255)]:
        a = rng.randint(0, mx + 1, size=(4, 4, ch))
        pay = encode_netpbm(
            a.astype(">u2" if mx > 255 else "u1"), fmt, maxval=mx
        )
        w, h, c, arr = parse_netpbm(pay)
        assert (w, h, c) == (4, 4, ch), fmt
        assert np.array_equal(arr.astype(int), a), fmt


def test_encode_gif_anim_and_wavext_writers():
    """r14 — the writer twins behind q_multimodal_gif_anim /
    q_multimodal_wavext: a partial-frame animation composites with
    show-through from the prior canvas under parse_gif_frames, and an
    EXTENSIBLE container decodes through the GUID-resolved real tag."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        encode_gif_anim,
        encode_wav_extensible,
        parse_audio_header,
        parse_gif_frames,
    )

    rng = np.random.RandomState(14)
    gray = np.repeat(np.arange(256, dtype="u1"), 3).reshape(256, 3)
    f0 = rng.randint(0, 256, (4, 4)).astype("u1")
    f1 = rng.randint(0, 256, (2, 2)).astype("u1")
    gif = encode_gif_anim([(0, 0, f0), (2, 1, f1)], gray, 4, 4)
    w, h, canvases = parse_gif_frames(gif)
    assert (w, h, len(canvases)) == (4, 4, 2)
    assert np.array_equal(canvases[0], np.repeat(f0[:, :, None], 3, 2))
    want = np.repeat(f0[:, :, None], 3, 2)
    want[1:3, 2:4] = np.repeat(f1[:, :, None], 3, 2)
    assert np.array_equal(canvases[1], want)

    pcm = rng.randint(-32768, 32768, size=32).astype("<i2")
    ext = encode_wav_extensible(pcm.tobytes(), 1, 16)
    assert parse_audio_header(ext) == (1, 8000, 16, 32)


def test_pam_p7_decode_and_resize(spark):
    """r13 — PAM (P7), the last Netpbm magic: keyword/value header up
    to ENDHDR (comments allowed, TUPLTYPE accepted but not enforced),
    then a P6-style binary raster of DEPTH channels — so gray+alpha
    and RGBA rasters ride the Netpbm family too, at 8 and 16 bit.
    resize_media re-encodes PAM as PAM (the only member that can carry
    2/4-channel rasters). Malformed headers and short rasters → None."""
    import numpy as np

    from polars_express_spark.functions.multimodal import (
        parse_netpbm,
        resize_media,
    )

    rng = np.random.RandomState(15)

    def pam(arr, maxval, extra=b""):
        h, w, d = arr.shape
        hdr = (
            f"P7\nWIDTH {w}\n# comment\nHEIGHT {h}\nDEPTH {d}\n"
            f"MAXVAL {maxval}\n".encode() + extra + b"ENDHDR\n"
        )
        return hdr + arr.tobytes()

    rgba = rng.randint(0, 256, size=(4, 5, 4)).astype("u1")
    w, h, ch, arr = parse_netpbm(pam(rgba, 255, extra=b"TUPLTYPE RGB_ALPHA\n"))
    assert (w, h, ch) == (5, 4, 4) and np.array_equal(arr, rgba)

    ga16 = rng.randint(0, 60000, size=(3, 2, 2)).astype(">u2")
    w, h, ch, arr = parse_netpbm(pam(ga16, 60000))
    assert (w, h, ch) == (2, 3, 2) and np.array_equal(
        arr.astype("u2"), ga16.astype("u2")
    )

    assert parse_netpbm(pam(rgba, 255)[:-3]) is None       # short raster
    assert parse_netpbm(b"P7\nWIDTH 2\nENDHDR\n\x00") is None  # fields missing
    assert parse_netpbm(b"P7\nWIDTH 2\nHEIGHT 1\nDEPTH 9\nMAXVAL 255\nENDHDR\n") is None

    df = spark.createDataFrame(
        [(1, bytearray(pam(rgba, 255)))], "doc_id long, payload binary"
    )
    out = resize_media(df, width=3, height=2, real_resize=True).collect()[0]
    pw, ph, pch, parr = parse_netpbm(bytes(out["payload"]))
    assert bytes(out["payload"])[:2] == b"P7" and (pw, ph, pch) == (3, 2, 4)
    yi = np.linspace(0, 3, 2).round().astype(int)
    xi = np.linspace(0, 4, 3).round().astype(int)
    assert np.array_equal(parr, rgba[yi][:, xi])

    # r14 ADVICE: the re-encoded header's MAXVAL must come from the
    # comment-aware header scan, not a raw-bytes regex — a '# MAXVAL 1'
    # comment BEFORE the real field would otherwise stamp the output
    # with maxval 1 while the raster was decoded at the true scale
    tricky = (
        b"P7\n# MAXVAL 1\nWIDTH 5\nHEIGHT 4\nDEPTH 4\nMAXVAL 255\n"
        b"ENDHDR\n" + rgba.tobytes()
    )
    assert parse_netpbm(tricky) is not None
    df2 = spark.createDataFrame(
        [(1, bytearray(tricky))], "doc_id long, payload binary"
    )
    out2 = resize_media(df2, width=3, height=2, real_resize=True).collect()[0]
    assert b"MAXVAL 255" in bytes(out2["payload"])[:64]
    assert np.array_equal(parse_netpbm(bytes(out2["payload"]))[3], rgba[yi][:, xi])


def test_flac_hand_assembled_golden_streams():
    """r14 — byte-level FLAC goldens assembled BY HAND from the spec
    text (RFC 9639), independent of encode_flac's bit writer: a
    mirrored misreading of the frame-header layout or CRC conventions
    would round-trip through encode/parse cleanly but fail here. CRCs
    are computed with table-driven implementations written separately
    from the module's bit-loop versions."""
    import struct

    from polars_express_spark.functions.flac import parse_flac

    def crc8(data):
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
            tbl.append(c)
        c = 0
        for b in data:
            c = tbl[c ^ b]
        return c

    def crc16(data):
        tbl = []
        for i in range(256):
            c = i << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
            tbl.append(c)
        c = 0
        for b in data:
            c = ((c << 8) & 0xFFFF) ^ tbl[((c >> 8) ^ b) & 0xFF]
        return c

    packed = (8000 << 44) | (0 << 41) | (15 << 36) | 4
    si = (
        struct.pack(">HH", 16, 16) + b"\x00\x00\x00" * 2
        + packed.to_bytes(8, "big") + b"\x00" * 16
    )
    stream = b"fLaC" + bytes((0x80,)) + len(si).to_bytes(3, "big") + si

    # frame 1 — VERBATIM: sync(14)+res+blocking | bs code 6 (8-bit at
    # end), sr code 0 | mono, sample-size code 4 (16-bit), res | frame
    # number 0 (UTF-8) | blocksize-1 = 3 | CRC-8; subframe pad(1)=0,
    # type 000001, wasted 0 → 0x02; four 16-bit BE samples; CRC-16.
    hdr = bytes((0xFF, 0xF8, 0x60, 0x08, 0x00, 0x03))
    hdr += bytes((crc8(hdr),))
    body = hdr + bytes((0x02,)) + struct.pack(">4h", 100, -100, 1000, -1000)
    body += struct.pack(">H", crc16(body))
    got = parse_flac(stream + body)
    assert got is not None
    ch, sr, bits, arr = got
    assert (ch, sr, bits) == (1, 8000, 16)
    assert arr.ravel().tolist() == [100, -100, 1000, -1000]

    # frame 2 variant — FIXED order 1 with one Rice partition, param 0:
    # warmup sample 5; residuals for [5,6,6,4] are [1,0,-2] → zigzag
    # [2,0,3] → unary 001,1,0001. Subframe header 0|001001|0 = 0x12.
    # Residual section: method 00, partition order 0000, param 0000,
    # then the unary bits; pad to byte boundary with zeros.
    hdr = bytes((0xFF, 0xF8, 0x60, 0x08, 0x00, 0x03))
    hdr += bytes((crc8(hdr),))
    sub = bytes((0x12,)) + struct.pack(">h", 5)
    # bits: 00 0000 0000 | 001 1 0001 | pad 00 → bytes 0x00, 0x31, then
    # the first ten bits already consumed two bytes: lay out explicitly:
    # 00000000 00|001100 01 + 6 pad zeros → 0x00, 0x0C, 0x40
    sub += bytes((0x00, 0x0C, 0x40))
    body = hdr + sub
    body += struct.pack(">H", crc16(body))
    got = parse_flac(stream + body)
    assert got is not None
    assert got[3].ravel().tolist() == [5, 6, 6, 4]


def test_qoi_hand_assembled_golden():
    """r14 — byte-level QOI golden from the one-page spec, independent
    of encode_qoi: RGB escape, RUN, DIFF (+1,+1,+1), LUMA (dg=8,
    dr-dg=-2, db-dg=3), and INDEX back to the first pixel."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import parse_qoi

    px0 = (128, 64, 32)
    ops = bytes((0xFE, *px0))          # QOI_OP_RGB
    ops += bytes((0xC0 | 0,))          # RUN of 1 → second pixel = px0
    ops += bytes((0x40 | (3 << 4) | (3 << 2) | 3,))  # DIFF +1,+1,+1
    px2 = (129, 65, 33)
    ops += bytes((0x80 | (8 + 32), ((-2 + 8) << 4) | (3 + 8)))  # LUMA
    px3 = (129 + 8 - 2, 65 + 8, 33 + 8 + 3)
    idx0 = (px0[0] * 3 + px0[1] * 5 + px0[2] * 7 + 255 * 11) % 64
    ops += bytes((idx0,))              # INDEX back to px0
    hdr = b"qoif" + struct.pack(">II", 5, 1) + bytes((3, 0))
    golden = hdr + ops + b"\x00" * 7 + b"\x01"
    got = parse_qoi(golden)
    assert got is not None
    w, h, ch, arr = got
    assert (w, h, ch) == (5, 1, 3)
    assert arr.reshape(-1, 3).tolist() == [
        list(px0), list(px0), list(px2), list(px3), list(px0)
    ]


def _webp_container(body_bits: bytes) -> bytes:
    import struct

    body = b"\x2f" + body_bits
    vp8l = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        vp8l += b"\x00"
    riff = b"WEBP" + vp8l
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _webp_simple_code(wtr, syms):
    wtr.bits(1, 1)
    wtr.bits(len(syms) - 1, 1)
    wtr.bits(1, 1)
    wtr.bits(syms[0], 8)
    if len(syms) == 2:
        wtr.bits(syms[1], 8)


def test_webp_hand_assembled_feature_streams():
    """r14 — hand-built VP8L streams for the decoder paths
    encode_webp never emits: the color cache (a hashed hit must
    reproduce an earlier pixel), the SUBTRACT_GREEN transform (stored
    deltas re-add green), COLOR_INDEXING with sub-byte pixel bundling
    (palette of 2, eight 1-bit indices per coded green byte), the
    meta-prefix mechanism (two code groups selected per 4-pixel
    block), and a neighbor-mapped short distance (code 1 = the pixel
    directly above). Each stream is laid out field by field from the
    spec, so a mirrored misreading of the feature layout fails here
    even though encoder round trips stay green."""
    import numpy as np

    from polars_express_spark.functions.webp import (
        _canonical_codes,
        _canonical_lengths,
        _cache_hash,
        _LsbWriter,
        _prefix_encode_value,
        _write_prefix_code,
        _write_symbol,
        parse_webp,
    )

    # --- color cache ---
    P, Q = (10, 20, 30, 255), (40, 50, 60, 255)
    cache_bits = 4
    argbP = (P[3] << 24) | (P[0] << 16) | (P[1] << 8) | P[2]
    idxP = _cache_hash(argbP, cache_bits)
    w = _LsbWriter()
    w.bits(2, 14); w.bits(0, 14); w.bits(0, 1); w.bits(0, 3)
    w.bits(0, 1)
    w.bits(1, 1); w.bits(cache_bits, 4)
    w.bits(0, 1)
    glen = [0] * 296
    glen[20] = 2; glen[50] = 2; glen[280 + idxP] = 1
    _write_prefix_code(w, glen)
    _webp_simple_code(w, [P[0], Q[0]])
    _webp_simple_code(w, [P[2], Q[2]])
    _webp_simple_code(w, [255])
    _webp_simple_code(w, [0])
    gc = _canonical_codes(glen)
    rc = _canonical_codes([1 if i in (P[0], Q[0]) else 0 for i in range(256)])
    bc = _canonical_codes([1 if i in (P[2], Q[2]) else 0 for i in range(256)])
    for px in (P, Q):
        _write_symbol(w, gc, px[1])
        _write_symbol(w, rc, px[0])
        _write_symbol(w, bc, px[2])
    _write_symbol(w, gc, 280 + idxP)
    got = parse_webp(_webp_container(w.finish()))
    assert got is not None and got[:3] == (3, 1, 4)
    assert [tuple(px) for px in got[3].reshape(-1, 4)] == [P, Q, P]

    # --- subtract_green ---
    orig = (100, 7, 200, 255)
    w = _LsbWriter()
    w.bits(0, 14); w.bits(0, 14); w.bits(0, 1); w.bits(0, 3)
    w.bits(1, 1); w.bits(2, 2); w.bits(0, 1)
    w.bits(0, 1); w.bits(0, 1)
    _webp_simple_code(w, [orig[1]])
    _webp_simple_code(w, [(orig[0] - orig[1]) & 0xFF])
    _webp_simple_code(w, [(orig[2] - orig[1]) & 0xFF])
    _webp_simple_code(w, [255])
    _webp_simple_code(w, [0])
    got = parse_webp(_webp_container(w.finish()))
    assert got is not None and tuple(got[3][0, 0]) == orig

    # --- color indexing, bundled (palette 2, width 10) ---
    pal0, pal1 = (1, 2, 3, 255), (200, 150, 100, 255)
    d = tuple((pal1[i] - pal0[i]) & 0xFF for i in range(4))
    w = _LsbWriter()
    w.bits(9, 14); w.bits(0, 14); w.bits(0, 1); w.bits(0, 3)
    w.bits(1, 1); w.bits(3, 2); w.bits(1, 8)
    w.bits(0, 1)
    glen = [0] * 280
    glen[pal0[1]] = 1; glen[d[1]] = 1
    _write_prefix_code(w, glen)
    _webp_simple_code(w, [pal0[0], d[0]])
    _webp_simple_code(w, [pal0[2], d[2]])
    _webp_simple_code(w, sorted({pal0[3], d[3]}))
    _webp_simple_code(w, [0])
    gc = _canonical_codes(glen)
    rc = _canonical_codes([1 if i in (pal0[0], d[0]) else 0 for i in range(256)])
    bc = _canonical_codes([1 if i in (pal0[2], d[2]) else 0 for i in range(256)])
    aset = sorted({pal0[3], d[3]})
    ac = _canonical_codes([1 if i in aset else 0 for i in range(256)])
    for px in (pal0, d):
        _write_symbol(w, gc, px[1])
        _write_symbol(w, rc, px[0])
        _write_symbol(w, bc, px[2])
        if len(ac) > 1:
            _write_symbol(w, ac, px[3])
    w.bits(0, 1)
    w.bits(0, 1); w.bits(0, 1)
    idxs = [1, 0, 1, 0, 1, 0, 1, 0, 1, 1]
    b0 = sum(idxs[k] << k for k in range(8))
    b1 = sum(idxs[8 + k] << k for k in range(2))
    glen2 = [0] * 280
    glen2[b0] = 1; glen2[b1] = 1
    _write_prefix_code(w, glen2)
    for syms in ([0], [0], [255], [0]):
        _webp_simple_code(w, syms)
    gc2 = _canonical_codes(glen2)
    _write_symbol(w, gc2, b0)
    _write_symbol(w, gc2, b1)
    got = parse_webp(_webp_container(w.finish()))
    assert got is not None and got[:2] == (10, 1)
    assert [tuple(px) for px in got[3].reshape(-1, 4)] == [
        pal1 if i else pal0 for i in idxs
    ]

    # --- meta-prefix: two groups over 4-pixel blocks ---
    w = _LsbWriter()
    w.bits(7, 14); w.bits(0, 14); w.bits(0, 1); w.bits(0, 3)
    w.bits(0, 1); w.bits(0, 1)
    w.bits(1, 1); w.bits(0, 3)
    w.bits(0, 1)
    glen = [0] * 280
    glen[0] = 1; glen[1] = 1
    _write_prefix_code(w, glen)
    for syms in ([0], [0], [255], [0]):
        _webp_simple_code(w, syms)
    gc = _canonical_codes(glen)
    _write_symbol(w, gc, 0)
    _write_symbol(w, gc, 1)
    for gval in (11, 22):
        for syms in ([gval], [5], [6], [255], [0]):
            _webp_simple_code(w, syms)
    got = parse_webp(_webp_container(w.finish()))
    assert got is not None and got[:2] == (8, 1)
    assert [int(p[1]) for p in got[3][0]] == [11] * 4 + [22] * 4

    # --- neighbor-mapped distance: code 1 = (0, 1), copy the row above ---
    wd = 5
    px_row = [(i * 10, i * 13 % 256, i * 7, 255) for i in range(wd)]
    w = _LsbWriter()
    w.bits(wd - 1, 14); w.bits(1, 14); w.bits(0, 1); w.bits(0, 3)
    w.bits(0, 1); w.bits(0, 1); w.bits(0, 1)
    lcode, lextra, lnb = _prefix_encode_value(5)
    freq = [0] * 280
    for p in px_row:
        freq[p[1]] += 1
    freq[256 + lcode] += 1
    glen = _canonical_lengths(freq, 15)
    _write_prefix_code(w, glen)
    rfreq, bfreq = [0] * 256, [0] * 256
    for p in px_row:
        rfreq[p[0]] += 1
        bfreq[p[2]] += 1
    rlen, blen = _canonical_lengths(rfreq, 15), _canonical_lengths(bfreq, 15)
    _write_prefix_code(w, rlen)
    _write_prefix_code(w, blen)
    _webp_simple_code(w, [255])
    _webp_simple_code(w, [0])
    gc, rc, bc = (_canonical_codes(l) for l in (glen, rlen, blen))
    for p in px_row:
        _write_symbol(w, gc, p[1])
        _write_symbol(w, rc, p[0])
        _write_symbol(w, bc, p[2])
    _write_symbol(w, gc, 256 + lcode)
    if lnb:
        w.bits(lextra, lnb)
    got = parse_webp(_webp_container(w.finish()))
    assert got is not None and got[:2] == (5, 2)
    assert [tuple(p) for p in got[3][0]] == px_row
    assert np.array_equal(got[3][1], got[3][0])


def test_webp_predictor_scalar_goldens():
    """r14 — hand-worked scalars for the two predictor rules where a
    plausible misreading decodes real files wrong. Select's tie-break:
    the spec returns LEFT only when pL is STRICTLY smaller (the
    equivalent difference form sums |L-TL|-|T-TL| per channel and
    returns TOP when <= 0), so an exact tie must yield TOP.
    ClampAddSubtractHalf uses C integer division — truncation TOWARD
    ZERO — so a negative (avg - TL) of -3 contributes -1, where
    Python floor division would contribute -2."""
    from polars_express_spark.functions.webp import (
        _avg2,
        _clamp_add_subtract_full,
        _clamp_add_subtract_half,
        _select,
    )

    def argb(a, r, g, b):
        return a << 24 | r << 16 | g << 8 | b

    # tie: only green differs; p_g = 10+20-15 = 15, |15-10| = |15-20|
    l, t, tl = argb(255, 7, 10, 7), argb(255, 7, 20, 7), argb(255, 7, 15, 7)
    assert _select(l, t, tl) == t  # tie -> TOP
    # strict win for left: move TL's green next to T's
    tl2 = argb(255, 7, 19, 7)  # pL = |20-19| = 1, pT = |10-19| = 9
    assert _select(l, t, tl2) == l

    # toward-zero: avg=10, TL=13 -> 10 + (-3 -> -1) = 9 (floor gives 8)
    assert _clamp_add_subtract_half(argb(255, 10, 10, 10),
                                    argb(255, 13, 13, 13)) \
        == argb(255, 9, 9, 9)
    # clamps both ends: avg=200,TL=10 -> 200+95=295 -> 255;
    # avg=5,TL=250 -> 5-122=-117 -> 0
    assert _clamp_add_subtract_half(argb(255, 200, 5, 200),
                                    argb(255, 10, 250, 10)) \
        == argb(255, 255, 0, 255)
    assert _clamp_add_subtract_full(argb(255, 200, 5, 100),
                                    argb(255, 100, 5, 200),
                                    argb(255, 10, 250, 50)) \
        == argb(255, 255, 0, 250)
    # SWAR average must not borrow across channels: avg(0x01, 0x00FF)
    # per channel is (0,0,0x7f... ) e.g. bytes (1+255)//2 independent
    assert _avg2(argb(0, 0, 0, 1), argb(0, 0, 1, 255)) == argb(0, 0, 0, 128)


def _fwd_predict_ref(mode, L, T, TL, TR):
    """Spec-text predictor, re-derived per channel on (a,r,g,b) tuples
    — independent of the module's packed-SWAR implementation."""

    def avg2(p, q):
        return tuple((pc + qc) // 2 for pc, qc in zip(p, q))

    def clamp(v):
        return max(0, min(255, v))

    if mode == 0:
        return (255, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return avg2(avg2(L, TR), T)
    if mode == 6:
        return avg2(L, TL)
    if mode == 7:
        return avg2(L, T)
    if mode == 8:
        return avg2(TL, T)
    if mode == 9:
        return avg2(T, TR)
    if mode == 10:
        return avg2(avg2(L, TL), avg2(T, TR))
    if mode == 11:
        p = tuple(lc + tc - tlc for lc, tc, tlc in zip(L, T, TL))
        pl = sum(abs(pc - lc) for pc, lc in zip(p, L))
        pt = sum(abs(pc - tc) for pc, tc in zip(p, T))
        return L if pl < pt else T
    if mode == 12:
        return tuple(
            clamp(lc + tc - tlc) for lc, tc, tlc in zip(L, T, TL)
        )
    a = avg2(L, T)
    out = []
    for ac, tlc in zip(a, TL):
        d = ac - tlc
        half = d // 2 if d >= 0 else -((-d) // 2)
        out.append(clamp(ac + half))
    return tuple(out)  # mode 13


def _webp_literal_body(wtr, argb_px, level0=True):
    """Write one entropy-coded image of literal ARGB pixels: cache
    bit, no meta (level0 only — sub-images carry no meta bit), five
    prefix codes, then per-pixel symbols."""
    from polars_express_spark.functions.webp import (
        _canonical_codes,
        _canonical_lengths,
        _write_prefix_code,
        _write_symbol,
    )

    wtr.bits(0, 1)  # no color cache
    if level0:
        wtr.bits(0, 1)  # no meta prefix image
    freqs = [[0] * 280, [0] * 256, [0] * 256, [0] * 256]
    for a, r, g, b in argb_px:
        freqs[0][g] += 1
        freqs[1][r] += 1
        freqs[2][b] += 1
        freqs[3][a] += 1
    codes = []
    for f, nsym in zip(freqs, (280, 256, 256, 256)):
        ls = _canonical_lengths(f, 15)
        if ls is None:  # single distinct symbol: simple 1-symbol code
            s = next(i for i, v in enumerate(f) if v)
            _webp_simple_code(wtr, [s])
            codes.append({s: (0, 0)})
            continue
        _write_prefix_code(wtr, ls)
        codes.append(_canonical_codes(ls))
    _webp_simple_code(wtr, [0])  # distance code: unused single symbol
    for a, r, g, b in argb_px:
        for ci, sym in ((0, g), (1, r), (2, b), (3, a)):
            if len(codes[ci]) > 1:
                _write_symbol(wtr, codes[ci], sym)


def test_webp_predictor_transform_all_modes():
    """r14 — full-stream inverse-predictor verification: for every
    mode 0..13, forward-transform a seeded 5x4 RGBA raster with the
    independent spec-text reference above (edge rules: (0,0) opaque
    black, top row L, left column T, rightmost-column TR = leftmost
    pixel of the CURRENT row), hand-assemble a VP8L stream carrying
    the residuals plus a predictor transform whose 1-block-per-image
    mode sub-image selects the mode, and require parse_webp to
    reconstruct the original raster exactly."""
    import numpy as np

    from polars_express_spark.functions.webp import _LsbWriter, parse_webp

    rng = np.random.RandomState(14)
    w, h = 5, 4
    for mode in range(14):
        arr = rng.randint(0, 256, (h, w, 4)).astype("u1")

        def px(y, x):
            return (int(arr[y, x, 3]), int(arr[y, x, 0]),
                    int(arr[y, x, 1]), int(arr[y, x, 2]))

        residuals = []
        for y in range(h):
            for x in range(w):
                if y == 0 and x == 0:
                    pred = (255, 0, 0, 0)
                elif y == 0:
                    pred = px(0, x - 1)
                elif x == 0:
                    pred = px(y - 1, 0)
                else:
                    tr = px(y - 1, x + 1) if x + 1 < w else px(y, 0)
                    pred = _fwd_predict_ref(
                        mode, px(y, x - 1), px(y - 1, x), px(y - 1, x - 1), tr
                    )
                residuals.append(tuple(
                    (o - pc) % 256 for o, pc in zip(px(y, x), pred)
                ))

        wtr = _LsbWriter()
        wtr.bits(w - 1, 14)
        wtr.bits(h - 1, 14)
        wtr.bits(1, 1)   # alpha hint
        wtr.bits(0, 3)   # version
        wtr.bits(1, 1)   # transform present
        wtr.bits(0, 2)   # PREDICTOR
        wtr.bits(1, 3)   # size_bits = 3 -> 8x8 blocks -> 1x1 sub-image
        # mode sub-image: green = mode, others constant
        wtr.bits(0, 1)   # sub-image: no cache
        _webp_simple_code(wtr, [mode])  # green
        _webp_simple_code(wtr, [0])     # red
        _webp_simple_code(wtr, [0])     # blue
        _webp_simple_code(wtr, [255])   # alpha
        _webp_simple_code(wtr, [0])     # distance
        wtr.bits(0, 1)   # no more transforms
        _webp_literal_body(wtr, residuals)
        got = parse_webp(_webp_container(wtr.finish()))
        assert got is not None, f"mode {mode} failed to decode"
        gw, gh, gch, out = got
        assert (gw, gh, gch) == (w, h, 4)
        rgba = np.dstack([
            arr[:, :, 0], arr[:, :, 1], arr[:, :, 2], arr[:, :, 3]
        ])
        assert np.array_equal(out, rgba), f"mode {mode} wrong pixels"


def test_webp_color_transform_signed_factors():
    """r14 — inverse color transform: forward-transform a raster whose
    greens span the int8 sign boundary with factors including negative
    3.5-fixed-point values (0x90 = -112), using an independent
    spec-text forward (deltas (int8 t * int8 c) >> 5 arithmetic,
    red_to_blue applied to the ORIGINAL red on the forward side and
    the RECONSTRUCTED red on the inverse), then require an exact
    round trip through parse_webp."""
    import numpy as np

    from polars_express_spark.functions.webp import _LsbWriter, parse_webp

    def i8(v):
        return v - 256 if v >= 128 else v

    def delta(t, c):
        return (i8(t) * i8(c)) >> 5

    g2r, g2b, r2b = 0x90, 0x35, 0xE0  # -112, +53, -32
    rng = np.random.RandomState(41)
    w, h = 4, 4
    arr = rng.randint(0, 256, (h, w, 4)).astype("u1")
    residuals = []
    for y in range(h):
        for x in range(w):
            r, g, b, a = (int(arr[y, x, c]) for c in range(4))
            nr = (r - delta(g2r, g)) & 0xFF
            nb = (b - delta(g2b, g) - delta(r2b, r)) & 0xFF
            residuals.append((a, nr, g, nb))

    wtr = _LsbWriter()
    wtr.bits(w - 1, 14)
    wtr.bits(h - 1, 14)
    wtr.bits(1, 1)
    wtr.bits(0, 3)
    wtr.bits(1, 1)   # transform present
    wtr.bits(1, 2)   # COLOR
    wtr.bits(1, 3)   # size_bits = 3 -> one block
    # cte sub-image pixel: red=r2b, green=g2b, blue=g2r
    wtr.bits(0, 1)
    _webp_simple_code(wtr, [g2b])   # green channel
    _webp_simple_code(wtr, [r2b])   # red channel
    _webp_simple_code(wtr, [g2r])   # blue channel
    _webp_simple_code(wtr, [255])   # alpha
    _webp_simple_code(wtr, [0])     # distance
    wtr.bits(0, 1)   # no more transforms
    _webp_literal_body(wtr, residuals)
    got = parse_webp(_webp_container(wtr.finish()))
    assert got is not None
    assert got[:2] == (w, h)
    rgba = np.dstack([arr[:, :, 0], arr[:, :, 1], arr[:, :, 2], arr[:, :, 3]])
    assert np.array_equal(got[3], rgba)


def test_webp_chained_predictor_subtract_green():
    """r14 — transform chaining: read order [predictor,
    subtract_green] means the decoder un-does subtract_green FIRST,
    then the predictor, so the coded stream must carry
    subtract_green(predictor_residuals(img)). A 9x5 raster with
    4x4 blocks gives a 3x2 mode sub-image mixing six different modes,
    so block-boundary mode switching is exercised in the same
    stream."""
    import numpy as np

    from polars_express_spark.functions.webp import _LsbWriter, parse_webp

    rng = np.random.RandomState(7)
    w, h = 9, 5
    size_bits = 2
    modes2d = [[11, 12, 13], [5, 9, 3]]
    arr = rng.randint(0, 256, (h, w, 4)).astype("u1")

    def px(y, x):
        return (int(arr[y, x, 3]), int(arr[y, x, 0]),
                int(arr[y, x, 1]), int(arr[y, x, 2]))

    coded = []
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = px(0, x - 1)
            elif x == 0:
                pred = px(y - 1, 0)
            else:
                tr = px(y - 1, x + 1) if x + 1 < w else px(y, 0)
                pred = _fwd_predict_ref(
                    modes2d[y >> size_bits][x >> size_bits],
                    px(y, x - 1), px(y - 1, x), px(y - 1, x - 1), tr,
                )
            a, r, g, b = (
                (o - pc) % 256 for o, pc in zip(px(y, x), pred)
            )
            # forward subtract-green on the residual stream
            coded.append((a, (r - g) % 256, g, (b - g) % 256))

    wtr = _LsbWriter()
    wtr.bits(w - 1, 14)
    wtr.bits(h - 1, 14)
    wtr.bits(1, 1)
    wtr.bits(0, 3)
    wtr.bits(1, 1)   # transform: PREDICTOR
    wtr.bits(0, 2)
    wtr.bits(0, 3)   # size_bits = 2 -> 4x4 blocks -> 3x2 sub-image
    _webp_literal_body(
        wtr, [(255, 0, m, 0) for row in modes2d for m in row],
        level0=False,
    )
    wtr.bits(1, 1)   # transform: SUBTRACT_GREEN
    wtr.bits(2, 2)
    wtr.bits(0, 1)   # no more transforms
    _webp_literal_body(wtr, coded)
    got = parse_webp(_webp_container(wtr.finish()))
    assert got is not None
    assert got[:2] == (w, h)
    rgba = np.dstack([arr[:, :, 0], arr[:, :, 1], arr[:, :, 2], arr[:, :, 3]])
    assert np.array_equal(got[3], rgba)


def test_webp_header_dims_all_flavors():
    """r14 — parse_image_header returns dims for every WebP container
    flavor even though full pixel decode covers VP8L only: VP8X's
    24-bit canvas-minus-one fields (alpha from flag bit 0x10), and a
    lossy VP8 KEY frame's 14-bit dims behind the 9D 01 2A sync code
    (an inter frame, tag bit 0 set, carries no dims and must return
    None rather than garbage)."""
    import struct

    from polars_express_spark.functions.multimodal import parse_image_header
    from polars_express_spark.functions.webp import parse_webp

    vp8x = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBP" + b"VP8X"
        + struct.pack("<I", 10) + bytes([0x10, 0, 0, 0])
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    )
    assert parse_image_header(vp8x) == (640, 480, 4)
    no_alpha = vp8x[:20] + b"\x00" + vp8x[21:]
    assert parse_image_header(no_alpha) == (640, 480, 3)
    assert parse_webp(vp8x) is None  # full decode stays VP8L-only

    def vp8_lossy(tag0, w_field, h_field):
        body = bytes([tag0, 0, 0]) + b"\x9d\x01\x2a" + struct.pack(
            "<HH", w_field, h_field
        )
        return (b"RIFF" + struct.pack("<I", 12 + len(body)) + b"WEBP"
                + b"VP8 " + struct.pack("<I", len(body)) + body)

    # key frame, scale hints in the upper 2 bits must be masked off
    assert parse_image_header(vp8_lossy(0x30, 320 | (2 << 14), 200)) \
        == (320, 200, 3)
    # inter frame (tag bit 0 set): no dims in the stream
    assert parse_image_header(vp8_lossy(0x31, 320, 200)) is None
    assert parse_webp(vp8_lossy(0x30, 320, 200)) is None


def _webp_anim_ref_composite(frames, cw, ch, bg):
    """Independent spec-text ANIM/ANMF compositor: per-channel integer
    /float re-derivation of RFC 9649's canvas model, written separately
    from the module's vectorized implementation."""
    import numpy as np

    canvas = np.zeros((ch, cw, 4), dtype="u1")
    canvas[:, :] = bg
    outs = []
    for x, y, arr, no_blend, dispose in frames:
        fh, fw = arr.shape[:2]
        for r in range(fh):
            for c in range(fw):
                src = [int(v) for v in arr[r, c]]
                dst = [int(v) for v in canvas[y + r, x + c]]
                if no_blend:
                    out = src
                else:
                    sa, da = src[3] / 255.0, dst[3] / 255.0
                    oa = sa + da * (1 - sa)
                    if oa == 0:
                        out = [0, 0, 0, 0]
                    else:
                        out = [
                            int(np.rint(
                                (src[k] * sa + dst[k] * da * (1 - sa)) / oa
                            ))
                            for k in range(3)
                        ] + [int(np.rint(oa * 255.0))]
                canvas[y + r, x + c] = out
        outs.append(canvas.copy())
        if dispose:
            canvas[y : y + fh, x : x + fw] = bg
    return outs


def test_webp_anim_compositor_against_spec_reference():
    """r14 — animated WebP: encode_webp_anim → parse_webp_frames must
    reproduce the independent reference compositor above across the
    full feature grid — no-blend overwrites, straight-alpha blending
    at 0/128/255 alphas, dispose-to-background rect restoration,
    2-pixel-unit frame offsets, and frames showing through earlier
    canvases. Seeded random stacks; exact equality per canvas."""
    import numpy as np

    from polars_express_spark.functions.webp import (
        encode_webp_anim,
        parse_webp_frames,
    )

    rng = np.random.RandomState(99)
    for trial in range(12):
        cw, ch = int(rng.randint(2, 5)) * 2, int(rng.randint(2, 5)) * 2
        bg = tuple(int(v) for v in rng.randint(0, 256, 4))
        frames = []
        for _ in range(int(rng.randint(1, 5))):
            fw = int(rng.randint(1, cw + 1))
            fh = int(rng.randint(1, ch + 1))
            x = int(rng.randint(0, (cw - fw) // 2 + 1)) * 2
            y = int(rng.randint(0, (ch - fh) // 2 + 1)) * 2
            arr = rng.randint(0, 256, (fh, fw, 4)).astype("u1")
            # quantize alpha to {0, 128, 255} half the time so the
            # exact-copy and exact-keep branches are hit often
            if rng.randint(2):
                arr[:, :, 3] = np.array([0, 128, 255], dtype="u1")[
                    rng.randint(0, 3, (fh, fw))
                ]
            frames.append(
                (x, y, arr, bool(rng.randint(2)), bool(rng.randint(2)))
            )
        payload = encode_webp_anim(frames, cw, ch, bg=bg)
        got = parse_webp_frames(payload)
        assert got is not None, trial
        gw, gh, canvases = got
        assert (gw, gh) == (cw, ch)
        exp = _webp_anim_ref_composite(frames, cw, ch, bg)
        assert len(canvases) == len(exp)
        for i, (g, e) in enumerate(zip(canvases, exp)):
            assert np.array_equal(g, e), (trial, i)


def test_webp_anim_strictness():
    """r14 — the animated container's None cases: a lossy VP8 frame, a
    frame rect past the canvas, an ANMF header whose dims disagree
    with its VP8L stream, an ANMF before any ANIM chunk, and a still
    (no animation flag) through parse_webp_frames. parse_webp in turn
    refuses animated files (stills only)."""
    import struct

    import numpy as np

    from polars_express_spark.functions.webp import (
        encode_webp,
        encode_webp_anim,
        parse_webp,
        parse_webp_frames,
    )

    arr = np.random.RandomState(1).randint(0, 256, (2, 2, 4)).astype("u1")
    good = encode_webp_anim([(0, 0, arr, True, False)], 4, 4)
    assert parse_webp_frames(good) is not None
    assert parse_webp(good) is None  # animated != still

    # frame rect past the canvas: offset (2,2) + 2x2 frame on a 2x2
    # canvas — wait, offsets must stay in container; craft via dims
    too_small = encode_webp_anim([(2, 2, arr, True, False)], 2, 2)
    assert parse_webp_frames(too_small) is None

    # ANMF whose declared dims disagree with the VP8L stream inside:
    # flip the width-minus-one byte of the 16-byte ANMF header
    idx = good.find(b"ANMF") + 8 + 6
    bad_dims = good[:idx] + bytes([7]) + good[idx + 1 :]
    assert parse_webp_frames(bad_dims) is None

    # lossy frame data: replace the inner chunk tag VP8L -> 'VP8 '
    bad_codec = good.replace(b"VP8L", b"VP8 ", 1)
    # (the first VP8L occurrence is inside the ANMF body)
    assert parse_webp_frames(bad_codec) is None

    # ANMF before ANIM: drop the ANIM chunk (14 bytes: hdr+6+pad? 6
    # is even, so 8+6=14) and splice the rest back together
    a = good.find(b"ANIM")
    no_anim = good[:a] + good[a + 14 :]
    no_anim = no_anim[:4] + struct.pack(
        "<I", len(no_anim) - 8
    ) + no_anim[8:]
    assert parse_webp_frames(no_anim) is None

    # a still VP8X (no anim flag) through the frames API
    vp8l = encode_webp(arr)[12:]
    vp8x_body = (bytes([0x10, 0, 0, 0])
                 + (1).to_bytes(3, "little") + (1).to_bytes(3, "little"))
    riff = (b"WEBP" + b"VP8X" + struct.pack("<I", len(vp8x_body))
            + vp8x_body + vp8l)
    still = b"RIFF" + struct.pack("<I", len(riff)) + riff
    assert parse_webp_frames(still) is None
    got = parse_webp(still)
    assert got is not None and got[:2] == (2, 2)


def _ms_adpcm_ref_decode(data, block_align, channels):
    """Independent spec-text MS ADPCM decoder (per-sample scalar
    walk, written separately from the module's implementation)."""
    COEFS = [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
             (460, -208), (392, -232)]
    ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]
    import struct

    out = []
    hdr = 7 * channels
    off = 0
    while off + hdr <= len(data):
        blk = data[off : off + block_align]
        off += block_align
        st = []
        for c in range(channels):
            p = blk[c]
            if p > 6:
                return None
            idelta = struct.unpack_from("<h", blk, channels + 2 * c)[0]
            s1 = struct.unpack_from("<h", blk, 3 * channels + 2 * c)[0]
            s2 = struct.unpack_from("<h", blk, 5 * channels + 2 * c)[0]
            st.append([COEFS[p][0], COEFS[p][1], idelta, s1, s2])
        out.extend(s[4] for s in st)
        out.extend(s[3] for s in st)
        k = 0
        for byte in blk[hdr:]:
            for nib in (byte >> 4, byte & 0xF):
                c1, c2, idelta, s1, s2 = st[k % channels]
                pred = (s1 * c1 + s2 * c2) >> 8
                sn = nib - 16 if nib >= 8 else nib
                samp = pred + sn * idelta
                samp = max(-32768, min(32767, samp))
                idelta = max(16, (ADAPT[nib] * idelta) >> 8)
                st[k % channels] = [c1, c2, idelta, samp, s1]
                out.append(samp)
                k += 1
    return out or None


def test_ms_adpcm_hand_golden_and_reference_agreement():
    """r14 — MS ADPCM (WAVE_FORMAT_ADPCM 0x0002), the other classic
    WAV codec beside IMA. Hand-stepped golden: predictor 0 (pred=s1),
    idelta 32, seeds s1=100/s2=50, nibble byte 0x39 → emit 50, 100,
    then 100+3*32=196 (idelta→(230*32)>>8=28), then 196-7*28=0.
    Then 200 random valid blocks (any predictor, idelta, seeds, body)
    must decode IDENTICALLY through the module decoder and the
    independent spec-text reference above — mono and stereo, including
    clamp saturation and the idelta floor. Strictness: predictor
    index 7 is malformed."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import (
        _wav_ms_blocks_decode,
    )

    block = bytes([0]) + struct.pack("<hhh", 32, 100, 50) + bytes([0x39])
    assert _wav_ms_blocks_decode(block, len(block), 1).tolist() == \
        [50, 100, 196, 0]
    assert _wav_ms_blocks_decode(bytes([7]) + block[1:], len(block), 1) \
        is None

    rng = np.random.RandomState(14)
    for _ in range(200):
        channels = int(rng.randint(1, 3))
        nbody = int(rng.randint(0, 24)) * channels
        blocks = b""
        ba = 7 * channels + nbody
        for _b in range(int(rng.randint(1, 4))):
            hdr = bytes(int(rng.randint(0, 7)) for _ in range(channels))
            for _c in range(channels):
                hdr += struct.pack("<h", int(rng.randint(-32768, 32768)))
            for _c in range(2 * channels):
                hdr += struct.pack("<h", int(rng.randint(-32768, 32768)))
            blocks += hdr + rng.bytes(nbody)
        got = _wav_ms_blocks_decode(blocks, ba, channels)
        exp = _ms_adpcm_ref_decode(blocks, ba, channels)
        assert got is not None and got.tolist() == exp


def test_ms_adpcm_wav_lattice_roundtrip():
    """r14 — encode_wav_msadpcm writes a complete RIFF container (fmt
    extension with the 7 coefficient pairs, fact, data) that
    parse_audio_header walks; on the (0,0) coefficient pair the
    idelta floor pins at 16 for codes in the ADAPT=230 band, so the
    {-48..48 step 16} lattice round-trips EXACTLY — and a code
    outside the band (e.g. -8 → ADAPT 768) grows idelta, which is
    why the exactness claim stops there."""
    import struct

    import numpy as np

    from polars_express_spark.functions.multimodal import (
        _wav_ms_blocks_decode,
        encode_wav_msadpcm,
        parse_audio_header,
    )

    rng = np.random.RandomState(7)
    pcm = [640, -320] + (rng.randint(-3, 4, 64) * 16).tolist()
    wav = encode_wav_msadpcm(pcm, predictor=2, idelta0=16)
    assert parse_audio_header(wav) is not None
    d = wav.find(b"data")
    (dsize,) = struct.unpack_from("<I", wav, d + 4)
    (ba,) = struct.unpack_from("<H", wav, wav.find(b"fmt ") + 8 + 12)
    dec = _wav_ms_blocks_decode(wav[d + 8 : d + 8 + dsize], ba, 1)
    assert dec.tolist() == pcm
    # idelta growth outside the band: code -8 (ADAPT 768)
    assert (768 * 16) >> 8 == 48  # the counterexample from the claim


def test_ogg_demux_stats_and_codec_gate(spark):
    """r15 — Ogg (RFC 3533): decode_ogg_stats demuxes a real page
    stream (CRC-verified, packets reassembled across a forced page
    continuation) and ships the id-header fields plus exact data-byte
    stats; the Vorbis/Opus payload codec is policy-gated —
    decode_audio_samples raises on OggS like MP3-in-WAV. A corrupt
    page (one flipped payload byte) fails the page CRC and the stats
    operator raises rather than shipping wrong bytes."""
    import numpy as np
    import pytest

    from polars_express_spark.functions.multimodal import (
        decode_audio_samples,
        decode_ogg_stats,
        encode_ogg,
        make_opus_head,
        make_vorbis_id,
    )

    rng = np.random.RandomState(42)
    pkts1 = [rng.bytes(300), rng.bytes(510), b"", rng.bytes(123)]
    ogg1 = encode_ogg(make_opus_head(2, 48000, pre_skip=312), pkts1,
                      max_page_payload=500)
    pkts2 = [rng.bytes(255)]
    ogg2 = encode_ogg(make_vorbis_id(1, 44100), pkts2)
    df = spark.createDataFrame(
        [(1, bytearray(ogg1)), (2, bytearray(ogg2))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_ogg_stats(df).collect()}
    d1 = np.frombuffer(b"".join(pkts1), dtype=np.uint8)
    assert got[1]["codec"] == "opus" and got[1]["channels"] == 2
    assert got[1]["sample_rate"] == 48000 and got[1]["pre_skip"] == 312
    assert got[1]["n_packets"] == 4 and got[1]["data_bytes"] == len(d1)
    assert got[1]["granule"] == len(d1)
    assert got[1]["min_b"] == int(d1.min()) and got[1]["max_b"] == int(d1.max())
    assert abs(got[1]["mean_b"] - float(d1.mean())) < 1e-9
    assert got[2]["codec"] == "vorbis" and got[2]["sample_rate"] == 44100
    assert got[2]["n_packets"] == 1 and got[2]["data_bytes"] == 255

    # payload codec gate: the sample decoder refuses Ogg-Opus by policy
    dfg = spark.createDataFrame([(3, bytearray(ogg1))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="gated|NotImplemented"):
        decode_audio_samples(dfg).collect()

    # ...but FLAC-in-Ogg decodes all the way to samples (r15): the
    # mapping rebuilds the native stream and runs the full flac.py
    # integrity chain under the page CRC-32
    from polars_express_spark.functions.multimodal import encode_ogg_flac

    pcm = rng.randint(-20000, 20000, (40, 2)).astype(np.int64)
    oggf = encode_ogg_flac(pcm, 8000, 16, 16, "fixed", "mid_side",
                           max_page_payload=120)
    dff = spark.createDataFrame([(5, bytearray(oggf))], "doc_id long, payload binary")
    row = decode_audio_samples(dff).collect()[0]
    flat = pcm.reshape(-1)
    assert row["n_samples"] == flat.size
    assert row["min_pcm"] == int(flat.min()) and row["max_pcm"] == int(flat.max())
    assert abs(row["mean_pcm"] - float(flat.mean())) < 1e-9
    # a flipped bit in the Ogg wrapper is detected by the page CRC
    badf = bytearray(oggf)
    badf[len(badf) // 2] ^= 0x40
    dfbf = spark.createDataFrame([(6, bytes(badf))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        decode_audio_samples(dfbf).collect()

    # a corrupt page is DETECTED (per-page CRC), never decoded wrong
    bad = bytearray(ogg1)
    bad[-5] ^= 0x10  # inside the last page's payload
    dfb = spark.createDataFrame([(4, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        decode_ogg_stats(dfb).collect()


def test_mkv_demux_decode_and_codec_gates(spark):
    """r15 — Matroska/EBML: MJPEG-in-MKV decodes to real pixels through
    sample_frames(real_decode=True); A_PCM/INT at both endiannesses
    decodes to exact samples through decode_audio_samples; inter-frame
    video (V_VP8) and compressed audio (A_OPUS) codec ids raise at the
    policy gate; a flipped byte inside a Cluster fails its EBML CRC-32
    and the operators raise rather than shipping wrong frames."""
    import numpy as np
    import pytest

    from polars_express_spark.functions.jpeg import encode_jpeg
    from polars_express_spark.functions.mkv import encode_mkv
    from polars_express_spark.functions.multimodal import (
        decode_audio_samples,
        decode_pixel_stats,
        sample_frames,
    )

    rng = np.random.RandomState(11)
    blocks = rng.randint(0, 256, (2, 2)).astype("u1")
    raster = blocks.repeat(8, axis=0).repeat(8, axis=1)
    frames = [encode_jpeg(raster)] * 2
    mkv_v = encode_mkv(frames, 16, 16, "V_MJPEG", lacing="ebml")
    dfv = spark.createDataFrame([(1, bytearray(mkv_v))], "doc_id long, payload binary")
    out = sample_frames(dfv, n_frames=2, real_decode=True)
    stats = {r["doc_id"]: r for r in decode_pixel_stats(
        out.selectExpr("doc_id", "frame AS payload")).collect()}
    assert stats[1]["width"] == 16 and stats[1]["channels"] == 1
    assert stats[1]["min_val"] == int(raster.min())
    assert stats[1]["max_val"] == int(raster.max())

    # PCM both endiannesses through the audio operator
    raw = rng.bytes(64)
    le = np.frombuffer(raw, dtype="<i2").astype(np.int32)
    be = np.frombuffer(raw, dtype=">i2").astype(np.int32)
    mkv_le = encode_mkv(None, audio_data=raw, bit_depth=16,
                        audio_codec="A_PCM/INT/LIT", lacing="fixed",
                        audio_frame_bytes=16)
    mkv_be = encode_mkv(None, audio_data=raw, bit_depth=16,
                        audio_codec="A_PCM/INT/BIG", lacing="xiph",
                        audio_frame_bytes=16)
    dfa = spark.createDataFrame(
        [(1, bytearray(mkv_le)), (2, bytearray(mkv_be))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_audio_samples(dfa).collect()}
    assert got[1]["min_pcm"] == int(le.min()) and got[1]["max_pcm"] == int(le.max())
    assert got[2]["min_pcm"] == int(be.min()) and got[2]["max_pcm"] == int(be.max())

    # codec gates
    mkv_vp8 = encode_mkv([b"\x00" * 10], 4, 4, "V_VP8")
    dfg = spark.createDataFrame([(3, bytearray(mkv_vp8))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="gated|NotImplemented|no dependency-free"):
        sample_frames(dfg, n_frames=1, real_decode=True).collect()
    mkv_opus = encode_mkv(None, audio_data=b"\x01\x02", audio_codec="A_OPUS")
    dfo = spark.createDataFrame([(4, bytearray(mkv_opus))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="gated|NotImplemented|no dependency-free"):
        decode_audio_samples(dfo).collect()

    # corruption inside a Cluster fails its CRC-32
    bad = bytearray(mkv_le)
    bad[-3] ^= 0x08  # inside the cluster's block payload
    dfb = spark.createDataFrame([(5, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        decode_audio_samples(dfb).collect()


def test_warc_extraction_operator(spark):
    """r15 — read_warc_records: one archive row explodes into one row
    per HTTP response record with exact body stats; warcinfo records
    are skipped; a truncated gzip member (corrupt archive) raises
    rather than shipping a partial corpus."""
    import numpy as np
    import pytest

    from polars_express_spark.functions.warc import (
        encode_warc,
        read_warc_records,
    )

    rng = np.random.RandomState(3)
    b0, b1 = rng.bytes(80), rng.bytes(120)
    w_plain = encode_warc(
        [("http://a/0", 200, b0), ("http://a/1", 404, b1)]
    )
    w_gz = encode_warc([("http://b/0", 301, b0)], gzip_members=True)
    df = spark.createDataFrame(
        [(1, bytearray(w_plain)), (2, bytearray(w_gz))],
        "doc_id long, payload binary",
    )
    rows = read_warc_records(df).collect()
    got = {(r["doc_id"], r["rec_no"]): r for r in rows}
    assert len(got) == 3
    r0 = got[(1, 0)]
    assert r0["uri"] == "http://a/0" and r0["http_status"] == 200
    assert r0["body_len"] == 80
    a0 = np.frombuffer(b0, dtype=np.uint8)
    assert r0["min_b"] == int(a0.min()) and r0["max_b"] == int(a0.max())
    assert abs(r0["mean_b"] - float(a0.mean())) < 1e-9
    assert got[(1, 1)]["http_status"] == 404
    assert got[(2, 0)]["uri"] == "http://b/0" and got[(2, 0)]["http_status"] == 301

    bad = bytearray(w_gz)[:-6]  # truncated final gzip member
    dfb = spark.createDataFrame([(3, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        read_warc_records(dfb).collect()


def test_zstd_extraction_operator(spark):
    """r18 — read_zstd_content: one .zst payload row (single frame,
    libzstd frame, or multi-frame stream with a skippable frame) →
    one stats row with the stream's verified posture (frame count,
    all-checksummed flag, declared size or -1); a corrupted
    checksummed frame raises rather than shipping altered content."""
    import struct

    import numpy as np
    import pyarrow as pa
    import pytest

    from polars_express_spark.functions.zstd import (
        encode_zstd,
        read_zstd_content,
    )

    rng = np.random.RandomState(5)
    c0 = rng.bytes(300) + b"\n" + rng.bytes(50)
    c1 = bytes(rng.randint(0, 4, size=4000, dtype=np.uint8))
    w0 = encode_zstd(c0, single_segment=True, checksum=True)
    w1 = bytes(pa.Codec("zstd").compress(c1, asbytes=True))
    skip = struct.pack("<II", 0x184D2A51, 2) + b"xy"
    w2 = (encode_zstd(c0, checksum=True, content_size=True) + skip
          + encode_zstd(c1, checksum=True, content_size=True))
    df = spark.createDataFrame(
        [(1, bytearray(w0)), (2, bytearray(w1)), (3, bytearray(w2))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in read_zstd_content(df).collect()}
    a0 = np.frombuffer(c0, dtype=np.uint8)
    a1 = np.frombuffer(c1, dtype=np.uint8)
    assert got[1]["n_bytes"] == len(c0)
    assert got[1]["bsum"] == int(a0.astype(np.int64).sum())
    assert got[1]["n_lines"] == int((a0 == 10).sum())
    assert got[1]["n_frames"] == 1 and got[1]["all_ck"] is True
    assert got[1]["csize"] == len(c0)
    assert got[2]["n_bytes"] == len(c1) and got[2]["all_ck"] is False
    assert got[3]["n_bytes"] == len(c0) + len(c1)
    assert got[3]["n_frames"] == 2 and got[3]["all_ck"] is True
    assert got[3]["csize"] == len(c0) + len(c1)
    assert got[3]["bsum"] == int(a0.astype(np.int64).sum()) + int(
        a1.astype(np.int64).sum())

    bad = bytearray(w0)
    bad[-10] ^= 0x40
    dfb = spark.createDataFrame([(9, bytes(bad))],
                                "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        read_zstd_content(dfb).collect()


def test_jsonl_zst_reader(spark):
    """r18 — read_jsonl_zst: one .jsonl.zst shard row → one row per
    line (0-based line_no), multi-frame shards concatenated; a shard
    without the terminating newline, with an empty line, or with
    non-UTF-8 bytes raises (a half-written shard is corruption)."""
    import pytest

    from polars_express_spark.functions.zstd import (
        encode_zstd,
        read_jsonl_zst,
    )

    good = b'{"a":1}\n{"a":2}\n'
    two = (encode_zstd(b'{"x":9}\n', single_segment=True)
           + encode_zstd(b'{"y":8}\n', single_segment=True))
    df = spark.createDataFrame(
        [(1, bytearray(encode_zstd(good))), (2, bytearray(two))],
        "doc_id long, payload binary",
    )
    rows = {(r["doc_id"], r["line_no"]): r["line"]
            for r in read_jsonl_zst(df).collect()}
    assert rows == {(1, 0): '{"a":1}', (1, 1): '{"a":2}',
                    (2, 0): '{"x":9}', (2, 1): '{"y":8}'}
    for bad in (b'{"a":1}', b'{"a":1}\n\n{"b":2}\n', b"\xff\xfe\n"):
        dfb = spark.createDataFrame(
            [(9, bytearray(encode_zstd(bad)))],
            "doc_id long, payload binary",
        )
        with pytest.raises(Exception,
                           match="newline|empty|UTF-8|corrupt"):
            read_jsonl_zst(dfb).collect()


def test_mp3_metadata_operator_and_gate(spark):
    """r15 — decode_mp3_meta ships the frame-chain metadata (the audio
    twin of the JPEG SOF walk); decode_audio_samples refuses bare MP3
    by policy (the standing MP3-in-WAV ruling); a desynchronized chain
    (truncated frame) raises in the metadata operator."""
    import pytest

    from polars_express_spark.functions.mp3 import (
        decode_mp3_meta,
        encode_mp3_frames,
    )
    from polars_express_spark.functions.multimodal import (
        decode_audio_samples,
    )

    from polars_express_spark.functions.mp3 import encode_id3v2

    tag = encode_id3v2({"TIT2": "golden title"}, version=3)
    enc = encode_mp3_frames([128, 192, 320], 44100, "joint_stereo",
                            paddings=[1, 0, 1],
                            id3v2_tag=tag, id3v1=True)
    df = spark.createDataFrame([(1, bytearray(enc))], "doc_id long, payload binary")
    row = decode_mp3_meta(df).collect()[0]
    assert row["sample_rate"] == 44100 and row["channel_mode"] == "joint_stereo"
    assert row["n_frames"] == 3 and (row["min_kbps"], row["max_kbps"]) == (128, 320)
    assert abs(row["duration_ms"] - 3 * 1152 * 1000.0 / 44100) < 1e-9
    assert row["id3v2_bytes"] == len(tag) and bool(row["has_id3v1"])
    assert row["title"] == "golden title"
    assert row["byte_len"] == len(enc)

    with pytest.raises(Exception, match="gated|NotImplemented"):
        decode_audio_samples(df).collect()

    dfb = spark.createDataFrame([(2, bytearray(enc[:-1]))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        decode_mp3_meta(dfb).collect()


def test_zip_extraction_operator(spark):
    """r15 — read_zip_entries: one archive row explodes into one row
    per member with CRC-verified data stats; a corrupted member
    (flipped data byte behind intact framing) raises rather than
    shipping wrong bytes."""
    import numpy as np
    import pytest

    from polars_express_spark.functions.ziparc import (
        encode_zip,
        read_zip_entries,
    )

    rng = np.random.RandomState(9)
    b0, b1 = rng.bytes(100), rng.bytes(50)
    z = encode_zip([("x/a.txt", b0), ("x/b.txt", b1)], method=0)
    df = spark.createDataFrame([(1, bytearray(z))], "doc_id long, payload binary")
    rows = {r["entry_no"]: r for r in read_zip_entries(df).collect()}
    assert rows[0]["name"] == "x/a.txt" and rows[0]["size"] == 100
    a0 = np.frombuffer(b0, dtype=np.uint8)
    assert rows[0]["min_b"] == int(a0.min()) and rows[0]["max_b"] == int(a0.max())
    assert rows[1]["name"] == "x/b.txt" and rows[1]["method"] == 0

    bad = bytearray(z)
    bad[30 + len("x/a.txt") + 10] ^= 0x20  # inside the first member's STORED data
    dfb = spark.createDataFrame([(2, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        read_zip_entries(dfb).collect()


def test_tar_extraction_operator(spark):
    """r15 — read_tar_entries: one shard row explodes into one row per
    member with exact stats; a truncated archive raises."""
    import numpy as np
    import pytest

    from polars_express_spark.functions.tar import encode_tar, read_tar_entries

    rng = np.random.RandomState(13)
    b0, b1 = rng.bytes(700), rng.bytes(512)
    t = encode_tar([("w/a.bin", b0), ("w/b.bin", b1)], gzip_wrap=True)
    df = spark.createDataFrame([(1, bytearray(t))], "doc_id long, payload binary")
    rows = {r["entry_no"]: r for r in read_tar_entries(df).collect()}
    assert rows[0]["name"] == "w/a.bin" and rows[0]["size"] == 700
    a0 = np.frombuffer(b0, dtype=np.uint8)
    assert rows[0]["min_b"] == int(a0.min()) and rows[0]["max_b"] == int(a0.max())
    assert rows[1]["size"] == 512

    bare = encode_tar([("w/a.bin", b0)])
    dfb = spark.createDataFrame(
        [(2, bytearray(bare[:-512]))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        read_tar_entries(dfb).collect()


def test_tfrecord_extraction_operator(spark):
    """r15 — read_tfrecord_records: one shard row explodes into one
    row per CRC32C-verified record (empty records keep zero-stat
    rows); a flipped byte anywhere raises."""
    import numpy as np
    import pytest

    from polars_express_spark.functions.tfrecord import (
        encode_tfrecord,
        read_tfrecord_records,
    )

    rng = np.random.RandomState(17)
    r0, r2 = rng.bytes(90), rng.bytes(40)
    shard = encode_tfrecord([r0, b"", r2])
    df = spark.createDataFrame([(1, bytearray(shard))], "doc_id long, payload binary")
    rows = {r["rec_no"]: r for r in read_tfrecord_records(df).collect()}
    assert len(rows) == 3
    a0 = np.frombuffer(r0, dtype=np.uint8)
    assert rows[0]["size"] == 90 and rows[0]["min_b"] == int(a0.min())
    assert rows[1]["size"] == 0 and rows[1]["mean_b"] == 0.0
    assert rows[2]["size"] == 40

    bad = bytearray(shard)
    bad[20] ^= 0x04
    dfb = spark.createDataFrame([(2, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt|out-of-envelope"):
        read_tfrecord_records(dfb).collect()

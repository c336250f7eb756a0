"""Pure-python netpbm codec + image kernel tests — all UN-SKIPPED
(no PIL required), closing the r12 verdict's "image kernels have zero
in-gate evidence" gap. The algorithmic pins are hand-computed values;
the distributed pins run the production mapInPandas kernels over
mixed good/corrupt payload frames."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from hadoop_data_pipeline_spark.operators import imagecodec as ic
from hadoop_data_pipeline_spark.operators import multimodal as mm

# ---------------------------------------------------------------------------
# codec: encode / decode
# ---------------------------------------------------------------------------


def test_netpbm_roundtrip_ppm_and_pgm():
    rgb = (np.arange(5 * 4 * 3) % 256).astype(np.uint8).reshape(4, 5, 3)
    arr, fmt = ic.decode_netpbm(ic.encode_netpbm(rgb))
    assert fmt == "PPM" and arr.shape == (4, 5, 3) and (arr == rgb).all()

    gray = (np.arange(12) * 7 % 256).astype(np.uint8).reshape(3, 4)
    arr, fmt = ic.decode_netpbm(ic.encode_netpbm(gray))
    assert fmt == "PGM" and arr.shape == (3, 4, 1)
    assert (arr[:, :, 0] == gray).all()


def test_netpbm_header_comments_and_whitespace():
    gray = np.arange(4, dtype=np.uint8).reshape(2, 2)
    raw = b"P5 # magic comment\n# full line\n 2\t2 # dims\n255\n" + gray.tobytes()
    arr, fmt = ic.decode_netpbm(raw)
    assert fmt == "PGM" and (arr[:, :, 0] == gray).all()


@pytest.mark.parametrize(
    "raw",
    [
        b"",  # empty
        b"GIF89a...",  # wrong magic
        b"P6\n2 2\n65535\n" + b"\x00" * 12,  # 16-bit maxval unsupported
        b"P6\n2 2\n255\n\x00\x00\x00",  # truncated raster
        b"P5\n0 2\n255\n",  # zero dimension
        b"P5\n# unterminated comment",  # malformed header
    ],
)
def test_netpbm_rejects_malformed(raw):
    with pytest.raises(ValueError):
        ic.decode_netpbm(raw)


# ---------------------------------------------------------------------------
# kernels: box downsample / luma / dhash / resize
# ---------------------------------------------------------------------------


def test_box_downsample_hand_values():
    x = np.array([[0, 2, 4], [6, 8, 10]])
    # 1x1: floor mean of all six = 30 // 6
    assert ic.box_downsample(x, 1, 1).tolist() == [[5]]
    # 1x2: col edges [0, 1] -> boxes [0:1], [1:3] per row pair
    # sums: col0 = 0+6, cols1-2 = 2+4+8+10 -> floor means 3, 6
    assert ic.box_downsample(x, 1, 2).tolist() == [[3, 6]]
    # identity when shapes match
    assert (ic.box_downsample(x, 2, 3) == x).all()
    with pytest.raises(ValueError):
        ic.box_downsample(x, 3, 3)  # never upscales


def test_luma_integer_601():
    px = np.array([[[255, 0, 0]], [[0, 255, 0]], [[0, 0, 255]]], dtype=np.uint8)
    lum = ic.luma(px)
    # (299*255)//1000, (587*255)//1000, (114*255)//1000
    assert lum[:, 0].tolist() == [76, 149, 29]


def test_dhash_gradients_and_sign():
    # strictly increasing left->right: left never > right -> all-zero hash
    inc = np.tile(np.arange(0, 90, 10, dtype=np.uint8), (8, 1))
    assert ic.dhash64(inc[:, :, None].repeat(3, axis=2)) == 0
    # strictly decreasing: every bit set -> signed two's complement -1
    dec = inc[:, ::-1]
    assert ic.dhash64(dec[:, :, None].repeat(3, axis=2)) == -1
    # single flipped cell moves Hamming by a bounded amount
    one = inc.copy()
    one[0, 0] = 200  # now grid[0,0] > grid[0,1] -> exactly one bit flips
    h = ic.dhash64(one[:, :, None].repeat(3, axis=2))
    assert bin(h ^ 0).count("1") == 1


def test_resize_netpbm_downscale_and_passthrough():
    rgb = (np.arange(8 * 4 * 3) % 256).astype(np.uint8).reshape(4, 8, 3)
    raw = ic.encode_netpbm(rgb)
    out, w, h = ic.resize_netpbm(raw, 4)
    # aspect preserved via integer floor: 8x4 -> 4x2
    assert (w, h) == (4, 2)
    arr, fmt = ic.decode_netpbm(out)
    assert fmt == "PPM" and arr.shape == (2, 4, 3)
    # each output pixel is the exact floor-mean of its 2x2 box
    assert arr[0, 0, 0] == int(rgb[:2, :2, 0].astype(int).sum()) // 4
    # within-bounds payloads pass through byte-identical (never upscale)
    again, w2, h2 = ic.resize_netpbm(out, 4)
    assert again == out and (w2, h2) == (4, 2)
    # extreme aspect: short side clamps to 1px, not 0
    wide = ic.encode_netpbm(np.zeros((1, 100), dtype=np.uint8))
    _, w3, h3 = ic.resize_netpbm(wide, 10)
    assert (w3, h3) == (10, 1)


def test_render_is_deterministic_and_content_addressed():
    a = ic.render_histogram_image("key agg row scan")
    b = ic.render_histogram_image("key agg row scan")
    c = ic.render_histogram_image("key agg row sort")
    assert a == b and a != c
    arr, fmt = ic.decode_netpbm(a)
    assert fmt == "PPM" and arr.shape == (ic.RENDER_H, ic.RENDER_W, 3)
    # one word repeated k times saturates its cells at min(255, step*k)
    sat = ic.render_histogram_image(" ".join(["key"] * 40))
    arrs, _ = ic.decode_netpbm(sat)
    assert set(np.unique(arrs)) == {0, 255}


def test_cached_render_cells_are_read_only():
    # the memo hands every caller the same array: a write must raise
    row = ic._cells_row("key", 3, ic.RENDER_W * ic.RENDER_H)
    assert ic._cells_row("key", 3, ic.RENDER_W * ic.RENDER_H) is row
    with pytest.raises(ValueError):
        row[0] = 0


def test_image_pixel_stats_exact_integers():
    rgb = np.full((2, 2, 3), 10, dtype=np.uint8)
    rgb[0, 0, 0] = 22
    st = ic.image_pixel_stats(ic.encode_netpbm(rgb))
    assert (st["width"], st["height"], st["mode"], st["format"]) == (
        2, 2, "RGB", "PPM",
    )
    assert st["n_px"] == 12
    assert st["px_sum"] == 11 * 10 + 22
    assert st["px_sumsq"] == 11 * 100 + 484


# ---------------------------------------------------------------------------
# distributed kernels over mixed payloads (production mapInPandas path)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ppm_payloads(spark):
    rgb = (np.arange(9 * 9 * 3) % 256).astype(np.uint8).reshape(9, 9, 3)
    rows = [
        (1, bytearray(ic.encode_netpbm(rgb))),
        (2, bytearray(b"P6\n2 2\n255\n\x00")),  # truncated raster
        (3, bytearray(b"\x89PNG\r\n\x1a\n....")),  # non-netpbm format
    ]
    return spark.createDataFrame(rows, "doc_id bigint, payload binary")


def test_decode_image_netpbm_unskipped(ppm_payloads):
    rows = {r.doc_id: r for r in mm.decode_image(ppm_payloads).collect()}
    ok = rows[1]
    assert (ok.width, ok.height, ok.mode, ok.format) == (9, 9, "RGB", "PPM")
    flat = (np.arange(9 * 9 * 3) % 256).astype(np.int64)
    s, ss, n = int(flat.sum()), int((flat * flat).sum()), flat.size
    assert ok.pixel_mean == s / n
    assert ok.pixel_std == ((ss * n - s * s) / (n * n)) ** 0.5
    assert ok.decode_error is None
    # corrupt netpbm -> decode_error column, stage survives
    assert rows[2].decode_error is not None and rows[2].width is None
    # non-netpbm without PIL -> decode_error names the missing codec;
    # with PIL present it simply fails to parse the fake PNG bytes
    assert rows[3].decode_error is not None


def test_resize_image_netpbm_unskipped(spark):
    rgb = (np.arange(32 * 16 * 3) % 256).astype(np.uint8).reshape(16, 32, 3)
    df = spark.createDataFrame(
        [(1, bytearray(ic.encode_netpbm(rgb))), (2, bytearray(b"junk"))],
        "doc_id bigint, payload binary",
    )
    rows = {r.doc_id: r for r in mm.resize_image(df, max_side=8).collect()}
    assert (rows[1].width, rows[1].height) == (8, 4)
    expected, _, _ = ic.resize_netpbm(ic.encode_netpbm(rgb), 8)
    assert bytes(rows[1].payload) == expected
    assert rows[2].resize_error is not None and rows[2].payload is None


def test_attach_ppm_payload_and_dhash(spark):
    docs = spark.createDataFrame(
        [(1, "key agg row"), (2, "key agg row"), (3, "sort merge join")],
        "doc_id long, text string",
    )
    payloads = mm.attach_ppm_payload(docs)
    sig = {r.doc_id: r.dhash for r in mm.image_dhash(payloads).collect()}
    # content-addressed: identical texts -> identical payloads/hashes
    assert sig[1] == sig[2]
    # matches the non-Spark reference derivation exactly
    ref = ic.dhash64(ic.decode_netpbm(ic.render_histogram_image("key agg row"))[0])
    assert sig[1] == ref
    # corrupt payloads hash to NULL, never kill the stage
    bad = spark.createDataFrame(
        [(9, bytearray(b"nope"))], "doc_id bigint, payload binary"
    )
    assert mm.image_dhash(bad).collect()[0].dhash is None


def test_image_near_dup_banding_is_lossless(spark):
    """Structural law (the simhash precedent at 64 bits): the banded
    plan's pair set must EQUAL the full quadratic scan's over the
    sf0.001 corpus signatures — pigeonhole, not sampling."""
    from hadoop_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sig = mm.image_dhash(mm.attach_ppm_payload(docs))
    rows = {r.doc_id: r.dhash for r in sig.collect()}
    brute = set()
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((rows[a] ^ rows[b]) & ((1 << 64) - 1)).count("1")
            if d <= 2:
                brute.add((a, b, d))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.image_near_dup_pairs(sig, max_hamming=2).collect()
    }
    assert got == brute and brute  # non-vacuous: fixture has pairs


def test_image_near_dup_rejects_lossy_params():
    import pandas as pd  # noqa: F401

    with pytest.raises(ValueError):
        mm.image_near_dup_pairs(None, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError):
        mm.image_near_dup_pairs(None, max_hamming=2, n_bands=5)


def test_pinned_image_lens_artifact_fresh():
    """Freshness pin for functions/image_lens.py (zlib_lens precedent):
    exact key-set equality against the distinct fixture texts plus a
    deterministic sample fully re-derived through the pure-python
    path. tools/artifact_gate.py runs the same check per gate run."""
    import pyarrow.parquet as pq

    from hadoop_data_pipeline_spark.functions.image_lens import IMAGE_LENS
    from tools.gen_image_lens import lens_row

    texts = {}
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        col = pq.read_table(
            f"/root/testdata/{sf}/documents.parquet", columns=["text"]
        ).column("text").to_pylist()
        for t in col:
            texts[hashlib.md5(t.encode()).hexdigest()] = t
    assert set(texts) == set(IMAGE_LENS)
    keys = sorted(IMAGE_LENS)
    for k in keys[:: max(1, len(keys) // 64)]:
        assert lens_row(texts[k]) == IMAGE_LENS[k]

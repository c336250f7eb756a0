"""Pure-python AVI/RIFF codec + video kernel tests — all UN-SKIPPED
(no ffmpeg/OpenCV required), completing the multimodal codec triad
(netpbm r13, WAV r13-s2, AVI r14). The algorithmic pins are
hand-computed values (container byte layout, DIB stride/BGR/bottom-up
rules, exact-integer stats); the distributed pins run the production
mapInPandas kernels over mixed good/corrupt payload frames."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from hadoop_data_pipeline_spark.operators import imagecodec as ic
from hadoop_data_pipeline_spark.operators import multimodal as mm
from hadoop_data_pipeline_spark.operators import videocodec as vc

# ---------------------------------------------------------------------------
# codec: encode / decode
# ---------------------------------------------------------------------------


def test_avi_roundtrip_exact():
    rng = np.random.default_rng(7)
    f = rng.integers(0, 256, (3, 4, 5, 3), dtype=np.uint8)
    dec, us = vc.decode_avi(vc.encode_avi(f, 20_000))
    assert us == 20_000 and dec.shape == f.shape and (dec == f).all()


def test_avi_roundtrip_odd_width_stride_padding():
    # width 5 -> 15 bytes/row -> DIB stride pads to 16; the pad bytes
    # must vanish on decode
    f = np.arange(2 * 3 * 5 * 3, dtype=np.uint8).reshape(2, 3, 5, 3) % 256
    dec, _ = vc.decode_avi(vc.encode_avi(f, 1))
    assert (dec == f).all()


def test_dib_frame_byte_layout_hand_pinned():
    # one 1x1 RGB pixel (10, 20, 30): DIB stores BGR and pads the
    # 3-byte row to a 4-byte stride -> b"\x1e\x14\x0a\x00"
    frame = np.array([[[10, 20, 30]]], dtype=np.uint8)
    raw = vc.encode_avi(frame[None], 1)
    pos = raw.find(b"00db")
    (size,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
    assert size == 4
    assert raw[pos + 8 : pos + 12] == b"\x1e\x14\x0a\x00"


def test_dib_rows_are_bottom_up():
    # 2x1 frames: top row red-ish, bottom row blue-ish; the FIRST DIB
    # row on the wire must be the BOTTOM image row (DIB convention)
    frame = np.array([[[200, 0, 0]], [[0, 0, 99]]], dtype=np.uint8)
    raw = vc.encode_avi(frame[None], 1)
    pos = raw.find(b"00db") + 8
    assert raw[pos : pos + 3] == bytes([99, 0, 0])  # bottom row, BGR
    assert raw[pos + 4 : pos + 7] == bytes([0, 0, 200])  # then top row


def test_avi_header_fields_hand_pinned():
    f = np.zeros((2, 3, 5, 3), dtype=np.uint8)
    raw = vc.encode_avi(f, 40_000)
    assert raw[:4] == b"RIFF" and raw[8:12] == b"AVI "
    (riff_size,) = struct.unpack("<I", raw[4:8])
    assert riff_size == len(raw) - 8
    apos = raw.find(b"avih") + 8
    us, _mbps, _pad, flags, total = struct.unpack(
        "<5I", raw[apos : apos + 20]
    )
    w, h = struct.unpack("<2I", raw[apos + 32 : apos + 40])
    assert (us, total, w, h) == (40_000, 2, 5, 3)
    assert flags & 0x10  # AVIF_HASINDEX
    spos = raw.find(b"strh") + 8
    assert raw[spos : spos + 4] == b"vids"
    assert raw[spos + 4 : spos + 8] == b"DIB "
    # idx1 has one 16-byte entry per frame, offsets movi-relative
    ipos = raw.find(b"idx1")
    (isize,) = struct.unpack("<I", raw[ipos + 4 : ipos + 8])
    assert isize == 16 * 2
    cc, _fl, off0, sz = struct.unpack("<4sIII", raw[ipos + 8 : ipos + 24])
    assert cc == b"00db" and off0 == 4 and sz == vc._dib_stride(5) * 3


@pytest.mark.parametrize(
    "raw",
    [
        b"",  # empty
        b"RIFF\x04\x00\x00\x00WAVE",  # wrong RIFF form
        b"\x89PNG\r\n\x1a\n....",  # not RIFF at all
    ],
)
def test_avi_rejects_foreign_payloads(raw):
    with pytest.raises(ValueError):
        vc.decode_avi(raw)


def test_avi_rejects_structural_corruption():
    good = vc.encode_avi(np.zeros((2, 2, 2, 3), dtype=np.uint8), 1000)
    with pytest.raises(ValueError, match="truncated"):
        vc.decode_avi(good[:60])
    # frame-count mismatch: patch dwTotalFrames
    bad = bytearray(good)
    apos = bad.find(b"avih") + 8
    bad[apos + 16 : apos + 20] = (9).to_bytes(4, "little")
    with pytest.raises(ValueError, match="dwTotalFrames"):
        vc.decode_avi(bytes(bad))
    # compressed stream: patch biCompression
    bad = bytearray(good)
    fpos = bad.find(b"strf") + 8
    bad[fpos + 16 : fpos + 20] = (1).to_bytes(4, "little")
    with pytest.raises(ValueError, match="compression"):
        vc.decode_avi(bytes(bad))
    # a WAV is a RIFF but not an AVI
    from hadoop_data_pipeline_spark.operators import audiocodec as ac

    with pytest.raises(ValueError):
        vc.decode_avi(ac.encode_wav(np.array([1, 2], dtype=np.int16)))


def test_encode_avi_rejects_bad_input():
    with pytest.raises(ValueError, match="frames"):
        vc.encode_avi(np.zeros((0, 2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="frames"):
        vc.encode_avi(np.zeros((2, 2, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match="us_per_frame"):
        vc.encode_avi(np.zeros((1, 2, 2, 3), dtype=np.uint8), 0)


def test_decode_tolerates_junk_chunks_and_00dc():
    # real muxers emit JUNK padding and some label uncompressed frames
    # 00dc; the walk must tolerate both
    good = vc.encode_avi(
        (np.arange(12, dtype=np.uint8) * 5 % 256).reshape(1, 2, 2, 3), 500
    )
    with_junk = bytearray(good)
    junk = b"JUNK" + struct.pack("<I", 6) + b"voidpd"
    # insert right after the 'AVI ' form tag, re-fix the RIFF size
    with_junk[12:12] = junk
    with_junk[4:8] = struct.pack("<I", len(with_junk) - 8)
    dec, us = vc.decode_avi(bytes(with_junk.replace(b"00db", b"00dc")))
    ref, _ = vc.decode_avi(good)
    assert us == 500 and (dec == ref).all()


# ---------------------------------------------------------------------------
# kernels: stats / per-frame dhash / render
# ---------------------------------------------------------------------------


def test_video_frame_stats_hand_values():
    f = np.array(
        [[[[10, 20, 30]]], [[[40, 50, 60]]]], dtype=np.uint8
    )  # 2 frames of 1x1
    st = vc.video_frame_stats(vc.encode_avi(f, 1000))
    assert (st["n_frames"], st["width"], st["height"]) == (2, 1, 1)
    assert (st["us_per_frame"], st["duration_us"]) == (1000, 2000)
    assert st["px_sum"] == 10 + 20 + 30 + 40 + 50 + 60
    assert st["px_sumsq"] == sum(v * v for v in (10, 20, 30, 40, 50, 60))


def test_frame_dhashes_match_image_kernel():
    rng = np.random.default_rng(3)
    f = rng.integers(0, 256, (3, 16, 16, 3), dtype=np.uint8)
    dh = vc.frame_dhashes(vc.encode_avi(f, 1))
    assert dh == [ic.dhash64(f[k]) for k in range(3)]
    assert all(-(1 << 63) <= h < (1 << 63) for h in dh)


def test_render_frame0_equals_image_tier_render():
    # frame k uses channel seeds 3k+c, so frame 0 (seeds 0,1,2) must
    # be byte-identical to the image tier's histogram render — the
    # free cross-tier consistency pin
    t = "shuffle exchange partition broadcast"
    frames, us = vc.decode_avi(vc.render_scene_video(t))
    img, _ = ic.decode_netpbm(ic.render_histogram_image(t))
    assert (frames[0] == img[:, :, :]).all()
    assert us == vc.RENDER_US_PER_FRAME
    assert frames.shape == (vc.RENDER_FRAMES, vc.RENDER_H, vc.RENDER_W, 3)


def test_render_is_deterministic_content_addressed_and_multi_scene():
    a = vc.render_scene_video("key agg row scan")
    assert a == vc.render_scene_video("key agg row scan")
    assert a != vc.render_scene_video("key agg row sort")
    frames, _ = vc.decode_avi(a)
    # different seeds per frame -> the scenes are distinct scatters
    assert not (frames[0] == frames[1]).all()


# ---------------------------------------------------------------------------
# distributed kernels over mixed payloads (production mapInPandas path)
# ---------------------------------------------------------------------------


def test_decode_video_unskipped_and_error_rows_atomic(spark):
    from hadoop_data_pipeline_spark.operators import audiocodec as ac

    f = np.full((2, 2, 2, 3), 10, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(vc.encode_avi(f, 1000))),
            (2, bytearray(b"not video")),
            (3, bytearray(ac.encode_wav(np.array([1], dtype=np.int16)))),
        ],
        "doc_id bigint, payload binary",
    )
    rows = {r.doc_id: r for r in mm.decode_video(df).collect()}
    ok = rows[1]
    assert (ok.n_frames, ok.width, ok.height) == (2, 2, 2)
    assert (ok.us_per_frame, ok.duration_us) == (1000, 2000)
    n_px, s = 24, 240
    assert ok.pixel_mean == s / n_px
    assert ok.pixel_std == ((24 * 100 * n_px - s * s) / (n_px * n_px)) ** 0.5
    assert ok.decode_error is None
    for bad in (rows[2], rows[3]):  # error-row contract: ALL stats NULL
        assert bad.decode_error is not None
        assert bad.n_frames is None and bad.width is None
        assert bad.pixel_mean is None and bad.duration_us is None


def test_video_frame_dhashes_kernel(spark):
    docs = spark.createDataFrame(
        [(1, "key agg row"), (2, "key agg row"), (3, "sort merge join")],
        "doc_id long, text string",
    )
    sig = mm.video_frame_dhashes(mm.attach_avi_payload(docs)).collect()
    per_doc = {}
    for r in sig:
        per_doc.setdefault(r.doc_id, {})[r.frame_idx] = r.dhash
    assert set(per_doc[1]) == set(range(vc.RENDER_FRAMES))
    assert per_doc[1] == per_doc[2]  # content-addressed
    ref = vc.frame_dhashes(vc.render_scene_video("key agg row"))
    assert [per_doc[1][k] for k in range(4)] == ref
    # corrupt payloads contribute no rows, never kill the stage
    bad = spark.createDataFrame(
        [(9, bytearray(b"nope"))], "doc_id bigint, payload binary"
    )
    assert mm.video_frame_dhashes(bad).count() == 0


def test_video_scene_near_dup_is_lossless(spark):
    """Structural law (the image/audio banding precedent extended to
    per-frame alignment): the banded shared-scene plan's pair set —
    including the matched-frame COUNTS — must EQUAL the full
    quadratic scan's over the sf0.001 corpus."""
    from hadoop_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sig = mm.video_frame_dhashes(mm.attach_avi_payload(docs))
    rows = {}
    for r in sig.collect():
        rows.setdefault(r.doc_id, {})[r.frame_idx] = r.dhash
    ids = sorted(rows)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = sum(
                1
                for k in rows[a]
                if k in rows[b]
                and bin((rows[a][k] ^ rows[b][k]) & ((1 << 64) - 1)).count(
                    "1"
                )
                <= 2
            )
            if c >= 3:
                brute.add((a, b, c))
    got = {
        (r.id_a, r.id_b, r.shared_frames)
        for r in mm.video_scene_near_dup_pairs(
            sig, max_hamming=2, min_shared_frames=3
        ).collect()
    }
    assert got == brute and brute  # non-vacuous: fixture has pairs


def test_video_scene_near_dup_rejects_lossy_params():
    with pytest.raises(ValueError):
        mm.video_scene_near_dup_pairs(None, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError):
        mm.video_scene_near_dup_pairs(None, max_hamming=2, n_bands=5)


def test_pinned_video_lens_artifact_fresh():
    """Freshness pin for functions/video_lens.py (image/audio lens
    precedent); tools/artifact_gate.py runs the same check in-gate."""
    import pyarrow.parquet as pq

    from hadoop_data_pipeline_spark.functions.video_lens import VIDEO_LENS
    from tools.gen_video_lens import lens_row

    texts = {}
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        col = pq.read_table(
            f"/root/testdata/{sf}/documents.parquet", columns=["text"]
        ).column("text").to_pylist()
        for t in col:
            texts[hashlib.md5(t.encode()).hexdigest()] = t
    assert set(texts) == set(VIDEO_LENS)
    keys = sorted(VIDEO_LENS)
    for k in keys[:: max(1, len(keys) // 64)]:
        assert lens_row(texts[k]) == VIDEO_LENS[k]


def test_decimate_avi_keeps_strided_frames_and_duration():
    rng = np.random.default_rng(11)
    f = rng.integers(0, 256, (4, 6, 6, 3), dtype=np.uint8)
    raw = vc.encode_avi(f, 40_000)
    dec, n = vc.decimate_avi(raw, 2)
    frames, us = vc.decode_avi(dec)
    assert n == 2 and us == 80_000  # duration-preserving: 4*40k == 2*80k
    assert (frames == f[::2]).all()
    # keep_every=1 is a lossless re-encode
    same, n1 = vc.decimate_avi(raw, 1)
    assert n1 == 4 and same == raw
    with pytest.raises(ValueError):
        vc.decimate_avi(raw, 0)


def test_decimate_video_kernel_and_error_rows(spark):
    f = np.full((4, 2, 2, 3), 7, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(vc.encode_avi(f, 40_000))), (2, bytearray(b"junk"))],
        "doc_id bigint, payload binary",
    )
    rows = {r.doc_id: r for r in mm.decimate_video(df, keep_every=2).collect()}
    ok = rows[1]
    assert (ok.n_frames, ok.us_per_frame) == (2, 80_000)
    expected, _ = vc.decimate_avi(vc.encode_avi(f, 40_000), 2)
    assert bytes(ok.payload) == expected
    bad = rows[2]
    assert bad.decimate_error is not None
    assert bad.n_frames is None and bad.payload is None


def test_decimate_audio_kernel_and_error_rows(spark):
    from hadoop_data_pipeline_spark.operators import audiocodec as ac

    s = np.arange(-8, 8, dtype=np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(ac.encode_wav(s, 8000))), (2, bytearray(b"junk"))],
        "doc_id bigint, payload binary",
    )
    rows = {r.doc_id: r for r in mm.decimate_audio(df, factor=4).collect()}
    ok = rows[1]
    assert (ok.n_samples, ok.rate) == (4, 2000)
    expected, _ = ac.decimate_wav(ac.encode_wav(s, 8000), 4)
    assert bytes(ok.payload) == expected
    bad = rows[2]
    assert bad.decimate_error is not None
    assert bad.n_samples is None and bad.payload is None


def test_dhash64_batch_matches_scalar():
    """The vectorized per-frame dHash (r17) must be BIT-identical to
    the scalar loop on rendered fixture frames, odd sizes at/above the
    grid, and flat frames — the lens digests and every pinned
    signature ride on this equality."""
    from hadoop_data_pipeline_spark.operators import imagecodec as ic

    rng = np.random.default_rng(20260818)
    stacks = [
        vc.decode_avi(vc.render_scene_video("alpha beta gamma " * 9))[0],
        vc.decode_avi(vc.render_scene_video(""))[0],
        rng.integers(0, 256, size=(5, 8, 9, 3), dtype=np.uint8),
        rng.integers(0, 256, size=(3, 17, 23, 3), dtype=np.uint8),
        np.zeros((2, 24, 32, 3), dtype=np.uint8),
    ]
    for frames in stacks:
        batch = list(ic.dhash64_batch(frames))
        scalar = [ic.dhash64(frames[k]) for k in range(frames.shape[0])]
        assert batch == scalar

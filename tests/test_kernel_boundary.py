"""The multimodal row-kernel boundary (``multimodal._map_rows``): one
``mapInPandas`` call for the package, one null rule and one error rule
for every kernel, and output dtypes that keep 64-bit signatures exact."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from hadoop_data_pipeline_spark.operators import audiocodec as ac
from hadoop_data_pipeline_spark.operators import imagecodec as ic
from hadoop_data_pipeline_spark.operators import multimodal as mm
from hadoop_data_pipeline_spark.operators import videocodec as vc

PKG = Path(mm.__file__).resolve().parent.parent

TEXT = "sort merge join key agg row"

#: kernel -> (input column, valid input value, extra kwargs)
KERNELS = {
    "attach_ppm_payload": ("text", TEXT, {}),
    "attach_wav_payload": ("text", TEXT, {}),
    "attach_avi_payload": ("text", TEXT, {}),
    "video_frame_dhashes_from_text": ("text", TEXT, {}),
    "image_dhash": ("payload", ic.render_histogram_image(TEXT), {}),
    "decode_image": ("payload", ic.render_histogram_image(TEXT), {}),
    "resize_image": (
        "payload", ic.render_histogram_image(TEXT), {"max_side": 16}
    ),
    "decode_audio": ("payload", ac.render_tone_audio(TEXT), {}),
    "audio_fingerprints": ("payload", ac.render_tone_audio(TEXT), {}),
    "decimate_audio": ("payload", ac.render_tone_audio(TEXT), {}),
    "decode_video": ("payload", vc.render_scene_video(TEXT), {}),
    "decimate_video": ("payload", vc.render_scene_video(TEXT), {}),
    "video_frame_dhashes": ("payload", vc.render_scene_video(TEXT), {}),
    "extract_features": ("payload", TEXT.encode(), {}),
    "frame_digests": ("payload", TEXT.encode(), {}),
}
EXPLODE = {
    "video_frame_dhashes", "video_frame_dhashes_from_text", "frame_digests"
}


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_null_input_never_raises(spark, name):
    col, value, kwargs = KERNELS[name]
    ddl = "string" if col == "text" else "binary"
    df = spark.createDataFrame(
        [(1, value), (2, None)], f"doc_id bigint, {col} {ddl}"
    )
    out = getattr(mm, name)(df, **kwargs)
    rows = out.collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.doc_id, []).append(r)
    assert 1 in by_key  # the valid row still produces output
    if name in EXPLODE:
        assert 2 not in by_key
        return
    [null_row] = by_key[2]
    fields = null_row.asDict()
    assert fields.pop("doc_id") == 2
    assert set(fields.values()) == {None}
    [ok] = by_key[1]
    last = out.schema.fieldNames()[-1]
    if last.endswith("_error"):
        assert ok[last] is None
    assert ok[1] is not None


def test_64bit_signature_exact_beside_null_rows(spark):
    # a fingerprint that float64 cannot hold, in the same Arrow batch as
    # a null input and a corrupt payload (both emit NULL fingerprints)
    wav = ac.render_tone_audio("key agg row")
    want = ac.audio_fingerprint64(wav)
    assert abs(want) > 2**53 and int(float(want)) != want
    df = spark.createDataFrame(
        [(1, wav), (2, None), (3, b"not a wav")],
        "doc_id bigint, payload binary",
    ).coalesce(1)
    got = {
        r.doc_id: r.fingerprint for r in mm.audio_fingerprints(df).collect()
    }
    assert got == {1: want, 2: None, 3: None}


def _enclosing_def(path: Path, lineno: int) -> str | None:
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.FunctionDef):
            if node.lineno <= lineno <= node.end_lineno:
                return node.name
    return None


def test_one_pandas_boundary():
    hits: dict[str, list[tuple[str, str | None]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for needle in (".mapInPandas(", ".applyInPandas("):
                if needle in line:
                    hits.setdefault(needle, []).append(
                        (
                            path.relative_to(PKG).as_posix(),
                            _enclosing_def(path, lineno),
                        )
                    )
    assert hits[".mapInPandas("] == [("operators/multimodal.py", "_map_rows")]
    # the grouped kernel stays: user_event_gap_stats exercises the
    # grouped-pandas path against its window twin
    assert hits[".applyInPandas("] == [
        ("operators/multimodal.py", "user_gap_stats")
    ]

"""Multimodal column plumbing (north-star extension).

Images / audio / video ride through the engine as opaque ``binary``
payload columns plus a typed metadata struct — the layout every
large-scale multimodal training pipeline uses (payload bytes next to
width/height/codec/duration metadata, partitioned by modality).

The *Spark-side plumbing* here is real and tested: schemas, Arrow
batch shapes, ``mapInPandas`` signatures, partitioning. Codecs are
two-tier: binary netpbm (PPM/PGM) decodes with the pure-python
:mod:`imagecodec` parser and therefore runs UN-SKIPPED in this
codec-less container (decode, resize, dHash, and the image catalog
entries all execute in-gate); compressed formats (PNG/JPEG/...) fall
back to PIL per-image when importable and otherwise record a
``decode_error`` column. ``extract_features`` additionally keeps a
clearly-marked deterministic fake (byte-level stats standing in for
pixel stats) for payloads that are not images at all.

Scale notes: payload columns are large — never groupBy/shuffle the
payload itself. Every per-row kernel (render, decode, resize,
decimate, signature, feature extraction) runs through
:func:`_map_rows`, the package's one ``mapInPandas`` boundary
(per-partition Arrow batches, zero shuffle), which also owns the null
and error rule; anything relational happens on the extracted features
or metadata, never the bytes.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_pipeline_spark.operators import audiocodec as ac
from hadoop_data_pipeline_spark.operators import imagecodec as ic
from hadoop_data_pipeline_spark.operators import videocodec as vc
from hadoop_data_pipeline_spark.operators.queries import scatter_small_scan

#: pandas dtype of a kernel output column, by Spark type. Nullable
#: ints keep a NULL beside a 64-bit hash from turning the column into
#: float64 (which silently rounds values above 2**53).
_PANDAS_DTYPES = {
    T.LongType: "Int64",
    T.IntegerType: "Int32",
    T.DoubleType: "float64",
}


def _map_rows(
    df: DataFrame,
    col: str,
    fn: Callable,
    schema: T.StructType,
    *,
    explode: bool = False,
) -> DataFrame:
    """Run ``fn`` on each ``col`` value of ``df`` and emit rows of
    ``schema`` keyed by ``doc_id`` — the one ``mapInPandas`` call of
    the package. ``fn(value)`` returns the output fields after the key
    (and before a trailing ``*_error`` field) as a tuple; with
    ``explode`` it returns an iterable of such tuples, one output row
    each. Every kernel shares one null and error rule:

    * **Null input.** ``fn`` is not called. A row kernel emits the key
      and all NULLs, including a NULL ``*_error``; an explode kernel
      emits no rows.
    * **``fn`` raises.** A row kernel emits the key and all NULLs, with
      ``"<ExceptionType>: <message>"`` (first 200 chars) in the
      schema's trailing ``*_error`` field if it has one; an explode
      kernel emits no rows. At corpus scale corrupt payloads are
      routine: one must never kill a 1000-executor stage, and an error
      row is never half-filled.

    Output columns take their pandas dtype from the schema
    (``_PANDAS_DTYPES``). Arrow batches in, batches out, zero shuffle."""
    names = schema.fieldNames()
    dtypes = [_PANDAS_DTYPES.get(type(f.dataType), object) for f in schema]
    width = len(names)
    nulls = (None,) * (width - 1 - names[-1].endswith("_error"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for key, value in zip(pdf["doc_id"], pdf[col]):
                # each row tuple ends with the error slot; [:width]
                # drops it when the schema has no *_error field
                if value is None:
                    if not explode:
                        rows.append((key, *nulls, None)[:width])
                    continue
                try:
                    out = list(fn(value))
                except Exception as exc:
                    if not explode:
                        err = f"{type(exc).__name__}: {exc}"[:200]
                        rows.append((key, *nulls, err)[:width])
                    continue
                if explode:
                    rows.extend((key, *r) for r in out)
                else:
                    rows.append((key, *out, None)[:width])
            cols = list(zip(*rows)) or [()] * width
            yield pd.DataFrame(
                {
                    name: pd.Series(list(c), dtype=dtype)
                    for name, c, dtype in zip(names, cols, dtypes)
                }
            )

    return df.select("doc_id", col).mapInPandas(kernel, schema)


#: Output of the ``attach_*_payload`` renders.
RENDER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

#: Metadata struct carried beside every binary payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("modality", T.StringType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_mean", T.DoubleType(), True),
        T.StructField("byte_std", T.DoubleType(), True),
        T.StructField("head_hash", T.StringType(), True),
    ]
)


def attach_fake_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic stand-in payload: utf-8 bytes of the text column
    plus a metadata struct. In production this column comes from the
    ingest source (tar/webdataset/parquet-with-binary)."""
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("fake/raw").alias("format"),
            F.octet_length(F.col(text_col)).cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def attach_ppm_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic REAL-image payload: each document text renders to
    a 32x32 binary PPM via :func:`imagecodec.render_histogram_image`
    (word-count histogram per RGB channel). Unlike
    :func:`attach_fake_payload` (raw utf-8 bytes), these payloads are
    decodable images, so the full decode -> stats -> resize -> dHash
    path runs for real. Content-addressed (payload depends only on the
    text), so the pinned oracle map in ``functions/image_lens.py``
    stays valid at every SF and under key-shifted stress corpora.

    One pass, zero shuffle, ~3 KiB/row out. Like every render, it
    expands its input and costs CPU per row, so a small single-split
    text scan is first scattered to full parallelism
    (``queries.scatter_small_scan``)."""
    return _map_rows(
        scatter_small_scan(df.select("doc_id", text_col)),
        text_col,
        lambda text: (ic.render_histogram_image(text),),
        RENDER_SCHEMA,
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def image_dhash(df: DataFrame) -> DataFrame:
    """Per-image 64-bit difference hash (signed int64) over netpbm
    payloads — the perceptual fingerprint that makes image near-dedup
    a 2-ints-per-image relational problem instead of a pixel problem.
    Undecodable payloads hash to NULL, which the downstream pair join
    drops.

    Scale: zero shuffle here; the corpus-scale work downstream
    (:func:`image_near_dup_pairs`) shuffles only (doc_id, dhash)."""
    return _map_rows(
        df,
        "payload",
        lambda payload: (ic.dhash64(ic.decode_netpbm(payload)[0]),),
        DHASH_SCHEMA,
    )


def band_subset_rows(
    sig: DataFrame,
    sig_col: str,
    max_hamming: int,
    n_bands: int,
    carry_cols: Sequence[str],
) -> DataFrame:
    """Emit the LOSSLESS band-subset candidate keys for a signed-64
    signature column: one row per ``(n_bands - max_hamming)``-subset
    of bands, ``band_id`` = subset index, ``band_key`` = the subset's
    band values concatenated into one non-negative long. ``carry_cols``
    (id, frame_idx, ...) ride along unchanged.

    Shared by :func:`signature_near_dup_pairs` and
    :func:`video_scene_near_dup_pairs`, and used DIRECTLY by
    ``tools/task_skew_audit.py``'s largest-bucket histogram — the
    audit measures exactly the keys the operators shuffle, so the two
    can never drift."""
    if not 0 < max_hamming < n_bands:
        raise ValueError("losslessness needs 0 < max_hamming < n_bands")
    if 64 % n_bands:
        raise ValueError("n_bands must divide 64")
    from itertools import combinations

    bits_per_band = 64 // n_bands
    mask = (1 << bits_per_band) - 1
    combos = list(combinations(range(n_bands), n_bands - max_hamming))

    def subset_key(bands_in_combo: tuple[int, ...]) -> str:
        return " + ".join(
            f"(shiftright({sig_col}, {b * bits_per_band}) & {mask}) * "
            f"{1 << (pos * bits_per_band)}"
            for pos, b in enumerate(bands_in_combo)
        )

    return sig.where(F.col(sig_col).isNotNull()).selectExpr(
        *carry_cols,
        sig_col,
        f"""inline(array({", ".join(
            f"struct({i} AS band_id, {subset_key(c)} AS band_key)"
            for i, c in enumerate(combos)
        )}))""",
    )


def signature_near_dup_pairs(
    sig: DataFrame,
    sig_col: str,
    max_hamming: int = 2,
    n_bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs over ANY signed-64 perceptual signature
    column (image dHash, audio energy fingerprint): ids whose
    signatures differ in <= ``max_hamming`` bits.

    LOSSLESS pigeonhole banding on SUBSETS of bands (r14, upgraded
    from single-band keys): the signature splits into ``n_bands``
    equal bands; at most ``max_hamming`` bands can contain a flipped
    bit, so any pair within distance ``max_hamming`` agrees EXACTLY
    on at least one ``(n_bands - max_hamming)``-subset of bands — the
    candidate key is that subset's concatenated band values. For the
    default (4 bands, Hamming <= 2) that is C(4,2)=6 keys of 32
    matched bits per item, versus the old 4 keys of 16 bits: 1.5x the
    (tiny, int-only) band exchange buys a QUADRATIC collapse of the
    degenerate-bucket tail — low-entropy corpora (monochrome images,
    near-silent clips) stack thousands of items on one 16-bit band
    value, and the in-bucket pair lambda is O(m^2); measured at sf0.1
    the worst video bucket fell 1134 -> 101 items. Candidates are
    still exact (the in-bucket Hamming test + distinct are
    unchanged), so the banded pair set EQUALS the full quadratic
    scan's — pinned by brute-force equality tests and a hypothesis
    property sweep. Arithmetic ``shiftright`` on the signed hash is
    safe because the band mask discards every sign-filled bit; subset
    keys occupy ``(n_bands - max_hamming) * 64/n_bands < 64`` bits,
    so they ride a LongType without overflow. One shuffle on
    (combo_id, band_key); at 100 TB this is the whole point:
    pixels/samples never shuffle, only 2 ints per item do, and the
    bucket buffer is O(largest true near-dup cluster), the same m any
    exact pair-emitter pays."""
    bands = band_subset_rows(
        sig, sig_col, max_hamming, n_bands, [id_col]
    )
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"), F.col(sig_col).alias("dh")
                )
            ).alias("ds")
        )
        .where(F.size("ds") >= 2)
    )
    pair = (
        "flatten(transform(ds, x -> transform(filter(ds, y -> y.id > x.id "
        f"AND bit_count(x.dh ^ y.dh) <= {max_hamming}), "
        "y -> struct(x.id AS id_a, y.id AS id_b, "
        "bit_count(x.dh ^ y.dh) AS hamming))))"
    )
    return (
        buckets.select(F.explode(F.expr(pair)).alias("p"))
        .select("p.*")
        .distinct()
    )


def write_signature_index_bucketed(
    sig: DataFrame,
    table: str,
    sig_col: str = "dhash",
    max_hamming: int = 2,
    n_bands: int = 4,
    id_col: str = "doc_id",
    frame_col: str | None = None,
    n_buckets: int = 8,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the band-subset index of a signature corpus as a
    parquet table BUCKETED by ``band_key`` — the media tiers' version
    of the text pipeline's persisted MinHash band index
    (``dedup.write_band_index_bucketed``): each ingest run stores the
    band rows of the clips it ADMITTED (``mode="append"``), and every
    future probe joins the stored layout with NO index-side exchange.

    Row shape: ``(id, [frame_idx,] signature, band_id, band_key)`` —
    the signature rides along (8 bytes) so the probe's Hamming
    verification never touches payloads. ~C(n_bands, n_bands -
    max_hamming) rows per signature: a ~1e-5 fraction of a 100 TB
    media corpus."""
    from hadoop_data_pipeline_spark.sources.bucketing import write_bucketed

    carry = [id_col] + ([frame_col] if frame_col else [])
    bands = band_subset_rows(sig, sig_col, max_hamming, n_bands, carry)
    write_bucketed(
        bands, table, ["band_key"], n_buckets,
        sort_cols=["band_key"], path=path, mode=mode,
    )


def write_signature_band_index(
    sig: DataFrame,
    path: str,
    sig_col: str = "dhash",
    max_hamming: int = 2,
    n_bands: int = 4,
    id_col: str = "doc_id",
    frame_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Directory form of :func:`write_signature_index_bucketed` (the
    ``dedup.write_band_index`` precedent): band-subset rows persisted
    as plain parquet partitioned by ``band_id`` — the layout the
    streaming media sink appends per ingested batch (a bare directory
    cannot carry bucket metadata; for the repeated-daily-probe
    zero-exchange layout, compact into the bucketed table form)."""
    carry = [id_col] + ([frame_col] if frame_col else [])
    bands = band_subset_rows(sig, sig_col, max_hamming, n_bands, carry)
    bands.write.mode(mode).partitionBy("band_id").parquet(path)


def read_signature_band_index(
    spark,
    path: str,
    sig_col: str = "dhash",
    id_col: str = "doc_id",
    frame_col: str | None = None,
) -> DataFrame:
    """Load a persisted signature band index, restoring the column
    shape the probe join expects (partition columns read back as the
    discovered type; cast ``band_id`` back to int)."""
    cols = [id_col] + ([frame_col] if frame_col else []) + [
        sig_col,
        F.col("band_id").cast("int").alias("band_id"),
        "band_key",
    ]
    return spark.read.parquet(path).select(*cols)


def _probe_signature_bands(
    bands_new: DataFrame,
    idx_bands: DataFrame,
    sig_col: str,
    max_hamming: int,
    id_col: str,
    frame_col: str | None,
    min_shared_frames: int | None,
) -> DataFrame:
    """Shared probe core: join NEW band rows against INDEX band rows
    on ``band_key`` ALONE, with ``band_id`` (and frame) equality as
    post-join ARITHMETIC filters — a plain ``==`` becomes a second
    equi-join key and the planner then disables the bucketed index
    scan (the ``probe_candidates_bucketed`` lesson, dedup.py). Same
    candidate set either way: a cross-band key collision implies the
    subsets' band values are identical, and the Hamming verification
    is exact regardless."""
    carry_new = [F.col(id_col).alias("id_new")] + (
        [F.col(frame_col).alias("__f_new")] if frame_col else []
    )
    bn = bands_new.select(
        *carry_new,
        F.col(sig_col).alias("__sig_new"),
        F.col("band_id").alias("__bid_new"),
        "band_key",
    )
    carry_idx = [F.col(id_col).alias("id_other")] + (
        [F.col(frame_col)] if frame_col else []
    )
    ix = idx_bands.select(
        *carry_idx,
        F.col(sig_col).alias("__sig_idx"),
        "band_id",
        "band_key",
    )
    verified = (
        bn.join(ix, "band_key")
        .where(F.expr("__bid_new - band_id = 0"))
        .where(F.expr(f"bit_count(__sig_new ^ __sig_idx) <= {max_hamming}"))
    )
    if frame_col:
        frames = (
            verified.where(F.expr(f"__f_new - {frame_col} = 0"))
            .select("id_new", "id_other",
                    F.col("__f_new").alias(frame_col))
            .distinct()  # a frame pair can match in several subsets
        )
        out = frames.groupBy("id_new", "id_other").agg(
            F.count("*").alias("shared_frames")
        )
        if min_shared_frames is not None:
            out = out.where(F.col("shared_frames") >= min_shared_frames)
        return out
    return (
        verified.select(
            "id_new", "id_other",
            F.expr("bit_count(__sig_new ^ __sig_idx)").alias("hamming"),
        )
        .distinct()  # hamming is pair-deterministic, so distinct is safe
    )


def probe_signature_pairs(
    new_sig: DataFrame,
    index_sig: DataFrame,
    sig_col: str = "dhash",
    max_hamming: int = 2,
    n_bands: int = 4,
    id_col: str = "doc_id",
    frame_col: str | None = None,
    min_shared_frames: int | None = None,
) -> DataFrame:
    """Incremental media near-dup probe, in-plan form: NEW signatures
    (today's ingest batch) against an existing corpus's signatures —
    the daily-ingest shape where new clips dedup against yesterday's
    index rather than the corpus against itself. Returns matched
    CROSS pairs only: ``(id_new, id_other, hamming)``, or with
    ``frame_col`` the video-scene form ``(id_new, id_other,
    shared_frames)`` where frames match positionally (the
    :func:`video_scene_near_dup_pairs` contract). Within-batch pairs
    are the batch operator's job; callers needing admission semantics
    anti-join the result off the new batch.

    Both sides band via the same LOSSLESS subset pigeonhole
    (:func:`band_subset_rows`), so the pair set EQUALS the quadratic
    new x index scan's — same argument, same property tests. The new
    batch is bounded (a day's ingest), so its band rows broadcast
    under AQE and the index side never shuffles; at index sizes where
    even that join must pre-place, use
    :func:`probe_signature_index_bucketed` over a PERSISTED index —
    the corpus side is then a bucketed parquet scan of stored band
    rows: never re-banded, never exchanged."""
    bands_new = band_subset_rows(
        new_sig, sig_col, max_hamming, n_bands,
        [id_col] + ([frame_col] if frame_col else []),
    )
    idx_bands = band_subset_rows(
        index_sig, sig_col, max_hamming, n_bands,
        [id_col] + ([frame_col] if frame_col else []),
    )
    return _probe_signature_bands(
        bands_new, idx_bands, sig_col, max_hamming, id_col,
        frame_col, min_shared_frames,
    )


def probe_signature_index_bucketed(
    spark,
    new_sig: DataFrame,
    index_table: str,
    sig_col: str = "dhash",
    max_hamming: int = 2,
    n_bands: int = 4,
    id_col: str = "doc_id",
    frame_col: str | None = None,
    min_shared_frames: int | None = None,
) -> DataFrame:
    """:func:`probe_signature_pairs` against a PERSISTED band index
    (:func:`write_signature_index_bucketed`): the index side is a
    bucketed parquet scan of stored ``(id, [frame,] sig, band_id,
    band_key)`` rows — the corpus is never re-banded (its payloads
    were hashed once, on admission), and because ``band_key`` is both
    the bucket column and the sole join key, the sort-merge join
    reads the index with NO exchange: each daily probe shuffles only
    the new batch's band rows. Identical pairs to the in-plan form —
    pinned by a round-trip test."""
    bands_new = band_subset_rows(
        new_sig, sig_col, max_hamming, n_bands,
        [id_col] + ([frame_col] if frame_col else []),
    )
    return _probe_signature_bands(
        bands_new, spark.table(index_table), sig_col, max_hamming,
        id_col, frame_col, min_shared_frames,
    )


def image_near_dup_pairs(
    sig: DataFrame,
    max_hamming: int = 2,
    n_bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Image near-duplicate pairs: dHashes within ``max_hamming`` bits
    — re-encode noise, small crops, watermark stamps collapse here in
    a production image-dedup pass. See
    :func:`signature_near_dup_pairs` for the lossless banding
    argument and the 100 TB shape."""
    return signature_near_dup_pairs(
        sig, "dhash", max_hamming, n_bands, id_col
    )


def attach_wav_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic REAL-audio payload: each document text renders to
    a PCM16 WAV via :func:`audiocodec.render_tone_audio` (integer
    square-wave mix, md5-keyed tone per word). The audio twin of
    :func:`attach_ppm_payload` — decodable clips, so the full decode
    -> stats -> fingerprint path runs for real; content-addressed, so
    the pinned oracle map in ``functions/audio_lens.py`` stays valid
    at every SF and under key-shifted stress corpora."""
    return _map_rows(
        scatter_small_scan(df.select("doc_id", text_col)),
        text_col,
        lambda text: (ac.render_tone_audio(text),),
        RENDER_SCHEMA,
    )


#: Output of :func:`decode_audio` — exact-integer per-clip stats.
AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("rate", T.IntegerType(), True),
        T.StructField("duration_us", T.LongType(), True),
        T.StructField("amp_mean", T.DoubleType(), True),
        T.StructField("amp_rms", T.DoubleType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def decode_audio(df: DataFrame) -> DataFrame:
    """Audio decode: RIFF/PCM16 payloads parse with the pure-python
    :mod:`audiocodec` (un-skipped in this codec-less container — the
    audio counterpart of the r13 netpbm tier); stats come from exact
    integer sums with floats spent only on the final division, which
    is what lets ``audio_decode_stats`` carry an exact DuckDB oracle.
    Non-WAV/compressed payloads record a ``decode_error`` naming the
    missing codec path."""

    def decode(payload: bytes) -> tuple:
        st = ac.audio_sample_stats(payload)
        n, s, ss = st["n_samples"], st["s_sum"], st["s_sumsq"]
        if n == 0:
            # a structurally-valid WAV with an empty data chunk has no
            # defined mean/RMS
            raise ValueError("empty data chunk (0 samples)")
        return n, st["rate"], st["duration_us"], s / n, (ss / n) ** 0.5

    return _map_rows(df, "payload", decode, AUDIO_SCHEMA)


FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fingerprint", T.LongType(), True),
    ]
)


def audio_fingerprints(df: DataFrame) -> DataFrame:
    """Per-clip 64-bit energy-difference fingerprint (Haitsma-Kalker
    shape, signed int64) — the perceptual signature that makes audio
    near-dedup a 2-ints-per-clip relational problem. Undecodable
    payloads fingerprint to NULL."""
    return _map_rows(
        df,
        "payload",
        lambda payload: (ac.audio_fingerprint64(payload),),
        FINGERPRINT_SCHEMA,
    )


def attach_avi_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic REAL-video payload: each document text renders
    to an uncompressed 24-bpp AVI via
    :func:`videocodec.render_scene_video` (4 frames of the image
    tier's integer histogram scatter under per-frame seeds; frame 0
    byte-identical to the image render). The video member of the
    :func:`attach_ppm_payload` / :func:`attach_wav_payload` family —
    decodable clips, so the full container-parse -> stats ->
    per-frame-dHash path runs for real; content-addressed, so the
    pinned oracle map in ``functions/video_lens.py`` stays valid at
    every SF and under key-shifted stress corpora."""
    return _map_rows(
        scatter_small_scan(df.select("doc_id", text_col)),
        text_col,
        lambda text: (vc.render_scene_video(text),),
        RENDER_SCHEMA,
    )


#: Output of :func:`decode_video` — exact-integer per-video stats.
VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("us_per_frame", T.LongType(), True),
        T.StructField("duration_us", T.LongType(), True),
        T.StructField("pixel_mean", T.DoubleType(), True),
        T.StructField("pixel_std", T.DoubleType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def decode_video(df: DataFrame) -> DataFrame:
    """Video decode: uncompressed AVI payloads parse with the
    pure-python :mod:`videocodec` RIFF walk (the netpbm/WAV precedent
    completing the codec triad); stats come from exact integer pixel
    sums across all frames with floats spent only on the final
    division, which is what lets ``video_decode_stats`` carry an exact
    DuckDB oracle. Compressed/foreign containers record a
    ``decode_error`` naming the missing codec path."""

    def decode(payload: bytes) -> tuple:
        st = vc.video_frame_stats(payload)
        n_px = 3 * st["n_frames"] * st["width"] * st["height"]
        s, ss = st["px_sum"], st["px_sumsq"]
        return (
            st["n_frames"],
            st["width"],
            st["height"],
            st["us_per_frame"],
            st["duration_us"],
            s / n_px,
            ((ss * n_px - s * s) / (n_px * n_px)) ** 0.5,
        )

    return _map_rows(df, "payload", decode, VIDEO_SCHEMA)


#: Output of :func:`decimate_audio` / :func:`decimate_video` — the
#: transformed payload's identity (md5 + shape constants).
DECIMATE_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("rate", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("decimate_error", T.StringType(), True),
    ]
)


def decimate_audio(df: DataFrame, factor: int = 4) -> DataFrame:
    """Audio decimation: keep every ``factor``-th sample, re-encode at
    ``rate // factor`` (:func:`audiocodec.decimate_wav`) — the
    bandwidth-reduction step a training pipeline runs BEFORE payloads
    reach a shard writer (output bytes shrink ~``factor``-fold, so run
    this ahead of any payload shuffle; the audio twin of
    :func:`resize_image`)."""

    def decimate(payload: bytes) -> tuple:
        dec, n = ac.decimate_wav(payload, factor)
        _samples, rate = ac.decode_wav(dec)
        return n, rate, dec

    return _map_rows(df, "payload", decimate, DECIMATE_AUDIO_SCHEMA)


DECIMATE_VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("us_per_frame", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("decimate_error", T.StringType(), True),
    ]
)


def decimate_video(df: DataFrame, keep_every: int = 2) -> DataFrame:
    """Video frame-rate decimation: keep every ``keep_every``-th
    frame, duration-preserving re-encode
    (:func:`videocodec.decimate_avi`) — the video tier's transform
    stage (decode / TRANSFORM / signature / near-dup now mirrors the
    image tier's decode / resize / dHash / near-dup)."""

    def decimate(payload: bytes) -> tuple:
        dec, n = vc.decimate_avi(payload, keep_every)
        _frames, us = vc.decode_avi(dec)
        return n, us, dec

    return _map_rows(df, "payload", decimate, DECIMATE_VIDEO_SCHEMA)


#: Output of :func:`video_frame_dhashes` — one row per decoded frame.
FRAME_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def video_frame_dhashes(df: DataFrame) -> DataFrame:
    """Per-frame 64-bit difference hashes — the video-to-frames
    explode that turns shared-scene detection into a (frame_idx, 2
    ints)-per-frame relational problem. Undecodable payloads
    contribute no rows, so downstream pair counts treat them as
    scene-less."""
    return _map_rows(
        df,
        "payload",
        lambda payload: enumerate(vc.frame_dhashes(payload)),
        FRAME_DHASH_SCHEMA,
        explode=True,
    )


def video_frame_dhashes_from_text(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Fused fixture path: render -> AVI encode -> container decode ->
    per-frame dHash in ONE ``mapInPandas`` pass, so the ~12.5 KB/doc
    payloads never cross the JVM/Python Arrow boundary (the full
    codec round trip still runs in-process — identical output to
    ``video_frame_dhashes(attach_avi_payload(df))``, pinned by test).

    This is also the at-scale shape: with payloads coming from a
    parquet binary column you'd likewise hash in the same pass that
    first touches the bytes, not materialize pixels through an extra
    exchange-free-but-serialized stage. Measured at sf0.1 the fusion
    roughly halves the two signature entries' wall time."""
    return _map_rows(
        scatter_small_scan(df.select("doc_id", text_col)),
        text_col,
        lambda text: enumerate(vc.frame_dhashes(vc.render_scene_video(text))),
        FRAME_DHASH_SCHEMA,
        explode=True,
    )


def video_scene_near_dup_pairs(
    frame_sig: DataFrame,
    max_hamming: int = 2,
    n_bands: int = 4,
    min_shared_frames: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared-scene video near-duplicates: pairs of videos with at
    least ``min_shared_frames`` frame indices whose per-frame dHashes
    differ in <= ``max_hamming`` bits — the "same footage, light
    re-encode / small overlay" collapse of a production video-dedup
    pass.

    Plan: the per-frame signature banding is
    :func:`signature_near_dup_pairs`'s LOSSLESS band-SUBSET pigeonhole
    (see there for the argument and the degenerate-bucket rationale)
    with ``frame_idx`` added to the bucket key, so candidates only
    ever pair frames at the SAME index (scene alignment is
    positional, the fixture's and a fixed-rate sampler's contract);
    per-frame losslessness then makes the per-pair matched-frame
    COUNT exact, so the final ``HAVING count >= min_shared_frames``
    equals the full quadratic scan's answer. Three shuffles total —
    (frame_idx, combo_id, band_key) buckets, the per-frame pair
    distinct, then the (id_a, id_b) count — all on ints; pixels and
    payloads never move. At 100 TB the bucket buffer is O(largest
    true shared-scene cluster) per (frame, subset), the same m any
    exact pair-emitter pays."""
    bands = band_subset_rows(
        frame_sig, "dhash", max_hamming, n_bands, [id_col, "frame_idx"]
    )
    buckets = (
        bands.groupBy("frame_idx", "band_id", "band_key")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"), F.col("dhash").alias("dh")
                )
            ).alias("ds")
        )
        .where(F.size("ds") >= 2)
    )
    pair = (
        "flatten(transform(ds, x -> transform(filter(ds, y -> y.id > x.id "
        f"AND bit_count(x.dh ^ y.dh) <= {max_hamming}), "
        "y -> struct(x.id AS id_a, y.id AS id_b))))"
    )
    frame_matches = (
        buckets.select(
            F.col("frame_idx"), F.explode(F.expr(pair)).alias("p")
        )
        .select("p.id_a", "p.id_b", "frame_idx")
        .distinct()  # a pair can match in several bands of one frame
    )
    return (
        frame_matches.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_frames"))
        .where(F.col("shared_frames") >= min_shared_frames)
    )


#: Output of :func:`decode_image`.
DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mode", T.StringType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("pixel_mean", T.DoubleType(), True),
        T.StructField("pixel_std", T.DoubleType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def _pil_image():
    """PIL's ``Image`` module: the codec tier for non-netpbm images."""
    try:
        from PIL import Image
    except ImportError:
        raise NotImplementedError(
            "non-netpbm format requires PIL/pillow, which is not in this "
            "container"
        ) from None
    return Image


def decode_image(df: DataFrame) -> DataFrame:
    """Image decode: each binary payload becomes (width, height, mode,
    format, pixel mean/std).

    Two codec tiers, chosen PER IMAGE by sniffing the payload:

    * binary netpbm (PPM/PGM) decodes with the pure-python
      :mod:`imagecodec` parser — always available, so this path runs
      un-skipped in codec-less containers (r12 verdict gap). Pixel
      stats come from exact integer sums with floats spent only on
      the final division (the ``extract_features`` recipe), which is
      what lets ``image_decode_stats`` carry an exact DuckDB oracle.
    * every other format falls back to PIL when importable; when PIL
      is absent the row records a ``decode_error`` naming the missing
      codec.
    """

    def decode(raw: bytes) -> tuple:
        if raw[:2] in (b"P5", b"P6"):
            st = ic.image_pixel_stats(raw)
            n, s, ss = st["n_px"], st["px_sum"], st["px_sumsq"]
            return (
                st["width"],
                st["height"],
                st["mode"],
                st["format"],
                s / n,
                ((ss * n - s * s) / (n * n)) ** 0.5,
            )
        with _pil_image().open(io.BytesIO(raw)) as img:
            fmt = img.format
            img.load()
            arr = np.asarray(img, dtype=np.float64)
            return (
                *img.size,
                img.mode,
                fmt,
                round(float(arr.mean()), 6),
                round(float(arr.std()), 6),
            )

    return _map_rows(df, "payload", decode, DECODE_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """DETERMINISTIC FAKE feature extraction over binary payloads:
    byte-level mean/std + md5 of the first 16 bytes, standing in for
    pixel statistics. Exercises the real distributed path: Arrow
    batches in, bounded batches out, zero shuffle.

    The stats are computed from EXACT integer byte sums (S, SS) and
    only then divided — so ``mean = S/n`` and ``std = sqrt((SS*n -
    S*S)/(n*n))`` are single float64 operations on exactly
    representable integers (S, SS < 2^53 for any payload under ~500
    MB), bit-identical to a SQL engine evaluating the same formula.
    No engine-side rounding is applied (a decimal round would
    re-introduce half-even-vs-half-away divergence on dyadic values
    like 92.9140625): the doubles themselves are equal, which is what
    lets the catalog entry carry an exact DuckDB value oracle instead
    of a rows-only check. The general recipe for any cross-engine
    float check: keep accumulation in integers, spend floats only on
    the final arithmetic, and never round in-engine."""

    def features(payload: bytes) -> tuple:
        n = len(payload)
        head = hashlib.md5(payload[:16]).hexdigest()
        if not n:
            return 0, None, None, head
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
        s, ss = int(arr.sum()), int((arr * arr).sum())
        return n, s / n, ((ss * n - s * s) / (n * n)) ** 0.5, head

    return _map_rows(df, "payload", features, FEATURE_SCHEMA)


GAP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("median_gap_us", T.DoubleType(), True),
        T.StructField("max_gap_us", T.DoubleType(), True),
    ]
)


def user_gap_stats(events: DataFrame) -> DataFrame:
    """Grouped custom kernel via ``applyInPandas`` (SURVEY.md §2.11):
    per-user inter-event-gap statistics — the grouped-pandas shape for
    logic that wants a whole key's rows in memory (numpy quantiles
    here). One shuffle on the key; each group must fit an executor's
    memory (fine for per-user event streams; a power-law key needs the
    salting in operators/skew.py first)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # Whole-microsecond gaps as doubles: every value (and the
        # median's average-of-two-middles) is exact in IEEE — no
        # rounding step, so no engine-specific half-way behavior.
        ts = np.sort(pdf["ts"].to_numpy(dtype="datetime64[us]"))
        gaps = np.diff(ts).astype("timedelta64[us]").astype(np.float64)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "median_gap_us": [
                    float(np.median(gaps)) if len(gaps) else None
                ],
                "max_gap_us": [float(gaps.max()) if len(gaps) else None],
            }
        )

    return events.select("user_id", "ts").groupBy("user_id").applyInPandas(
        kernel, GAP_STATS_SCHEMA
    )


#: Output of :func:`frame_digests` — one row per *sampled* frame with
#: its content digest.
FRAME_DIGEST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ]
)


def frame_digests(
    df: DataFrame, frame_bytes: int = 16, stride_frames: int = 4
) -> DataFrame:
    """Frame-sampling with CONTENT extraction: the payload is cut into
    fixed-size ``frame_bytes`` frames (partial tail frame dropped, as
    a fixed-frame video decoder would) and every ``stride_frames``-th
    frame is digested — the "sample 1 frame per second of video" shape
    of a multimodal training pipeline, with an md5 digest standing in
    for the decoded frame tensor. One pass over each payload, rows out
    ≤ rows in × frames, no shuffle anywhere (pure map-side explode).
    At 100 TB the same kernel runs per input split; sampled frames go
    straight to the sink with no exchange.

    Since r14 the REAL video path — container parse, frame raster
    decode, per-frame perceptual hash — is :func:`decode_video` /
    :func:`video_frame_dhashes` over :mod:`videocodec`'s AVI parser;
    this fixed-byte-frame digester remains the generic fallback for
    payloads without a pure-python container parser.
    """

    def frames(raw: bytes) -> Iterator[tuple[int, str]]:
        for i in range(0, len(raw) // frame_bytes, stride_frames):
            frame = raw[i * frame_bytes : (i + 1) * frame_bytes]
            yield i, hashlib.md5(frame).hexdigest()

    return _map_rows(
        df, "payload", frames, FRAME_DIGEST_SCHEMA, explode=True
    )


#: Output of :func:`resize_image` — resized payload plus the new
#: dimensions.
RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("resize_error", T.StringType(), True),
    ]
)


def resize_image(
    df: DataFrame, max_side: int = 256, out_format: str = "PNG"
) -> DataFrame:
    """Image resize: decode, downscale so the longer edge is at most
    ``max_side`` (aspect preserved, never upscaled), re-encode. The
    standard pre-training normalization step for image corpora.

    Same two-tier codec selection as :func:`decode_image`: netpbm
    payloads resize with the pure-python exact-integer box downsample
    (:func:`imagecodec.resize_netpbm`, re-encoded in their own format
    — ``out_format`` applies to the PIL tier only), everything else
    falls back to PIL thumbnail + ``out_format`` re-encode, recording
    a ``resize_error`` when PIL is absent.

    Scale shape: Arrow batches in, zero shuffle, payload never enters
    a groupBy. Output payload is the resized encoding, so downstream
    bytes shrink by ~(orig/max_side)^2 — run this BEFORE any stage
    that shuffles payloads to a training-shard writer.
    """

    def resize(raw: bytes) -> tuple:
        if raw[:2] in (b"P5", b"P6"):
            return ic.resize_netpbm(raw, max_side)
        with _pil_image().open(io.BytesIO(raw)) as img:
            img.load()
            img.thumbnail((max_side, max_side))
            buf = io.BytesIO()
            img.save(buf, format=out_format)
            return (buf.getvalue(), *img.size)

    return _map_rows(df, "payload", resize, RESIZE_SCHEMA)

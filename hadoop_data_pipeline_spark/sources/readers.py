"""Schema-first readers (SURVEY.md §2.1).

The reference reads CSV with ``inferSchema=true`` then force-casts every
column (reference ``jobs/finance_itsc_pipeline.py:62-68``). Inference
costs an extra full pass over the input and is non-deterministic under
dirty data — at 100 TB that is an extra 100 TB scan. This engine makes
the explicit schema the default path (S1/S2) and keeps a cast fallback
for schema-less exploration.

Parquet scans (S3) rely on Catalyst's built-in column pruning and
predicate pushdown — callers express filters/projections declaratively
and the parquet reader receives them (visible as ``PushedFilters`` /
``ReadSchema`` in ``df.explain("formatted")``).

``load_table`` memoizes each fixture file's inferred parquet schema in
``_SCHEMAS``: a bare ``spark.read.parquet`` runs one footer-inference
job per call, which would make building every catalog query fire a
Spark job before any action. The memo holds one entry per real path,
keyed by the file's ``(st_ino, st_size, st_mtime_ns)`` and the session
confs that change inference (``_INFERENCE_CONFS``); the footer stays
the single source of truth, and a rewritten file is inferred again.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables the driver generates under /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Session confs whose value changes what parquet schema inference
#: returns (``nanosAsLong`` is forced by :func:`load_table` itself).
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: real path -> (file signature, inferred schema); see :func:`load_table`.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S3). Pushdown/pruning handled by Catalyst."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan over one path, a glob, or an explicit file list (S1/S2).

    With ``schema`` (preferred): single pass, deterministic types.
    Without: falls back to inference for exploration only.
    """
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(paths)


def read_csv_quarantine(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """CSV scan with corrupt-row quarantine: returns ``(good, bad)``.

    Rows that fail to parse against ``schema`` (wrong arity, bad
    casts) land in ``bad`` with the raw line preserved in
    ``corrupt_col`` — the dirty-data path the reference handles with
    ad-hoc Excel cleanup (`ingestion.py`), generalized: the pipeline
    keeps loading, the quarantine frame feeds the DQ gate/alerts, and
    nothing is silently dropped.

    Spark gotcha encoded here: under PERMISSIVE mode the corrupt
    column is populated during parsing, and a plan that selects ONLY
    the corrupt column is rejected by Spark (it would skew parser
    pruning), so the split runs off one cached full-schema frame —
    also ensuring good/bad are consistent views of a single parse, at
    the cost of one materialization (at scale: write the parsed frame
    once, then split from the written copy).
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    reader = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.csv(paths).cache()
    good = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.where(F.col(corrupt_col).isNotNull())
    return good, bad


def read_parquet_evolved(
    spark: SparkSession, paths: str | list[str]
) -> DataFrame:
    """Parquet scan across files written under DIFFERENT schema
    versions (``mergeSchema=true``): the unified schema is the union
    of every file's columns; rows from files lacking a column read as
    NULL. This is the schema-EVOLUTION read path — a lake that added
    columns over months must stay readable in one scan without
    rewriting history. Cost note: schema merging reads every file's
    FOOTER up front (one driver-side pass over file metadata, not
    data); for a stable-schema table use :func:`read_parquet`, which
    trusts a single footer.

    The reference hard-fails on schema drift at the DQ gate
    (`jobs/data_quality.py:31-40` — missing columns are fatal); that
    contract still holds for the CURATED zone, while this reader
    covers the RAW/staging zones where drift is a fact of ingestion.
    """
    reader = spark.read.option("mergeSchema", "true")
    if isinstance(paths, list):
        return reader.parquet(*paths)
    return reader.parquet(paths)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar format a Hadoop-era lake holds
    (the reference's Hive 2.x serving layer defaults to ORC for
    managed tables). Schema comes from the ORC footer; Catalyst
    pushes filters and prunes columns exactly as for parquet."""
    return spark.read.orc(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    **options: str,
) -> DataFrame:
    """JSON-lines scan with a MANDATORY schema (S1 discipline applied
    to JSON): schema-first reads are single-pass and type-stable,
    whereas inference samples the data and can flip types between
    runs — the same reasoning that replaced the reference's CSV
    ``inferSchema=true`` (`jobs/finance_itsc_pipeline.py:62`) with
    explicit schemas. Malformed lines follow the PERMISSIVE default
    unless callers pass ``mode``/``columnNameOfCorruptRecord``."""
    reader = spark.read.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    row_tag: str = "row",
    **options: str,
) -> DataFrame:
    """XML scan (Spark 4 built-in ``xml`` source) with a MANDATORY
    schema and explicit ``rowTag`` — the same schema-first discipline
    as :func:`read_jsonl`. Legacy Hadoop feeds (the reference era's
    ``hadoop-streaming`` inputs) are frequently XML exports; Spark's
    reader splits large files on the row tag, so a single multi-GB
    export still scans in parallel. XML 1.0 cannot carry control
    characters (< 0x20 except tab/newline/CR) — like CSV's timestamp
    caveat, that is a documented format limit, not a reader bug."""
    reader = spark.read.schema(schema).option("rowTag", row_tag)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format("xml").load(path)


def write_format(
    df: DataFrame, path: str, fmt: str, **options: str
) -> None:
    """Overwrite-write ``df`` at ``path`` in ``fmt`` (parquet / orc /
    json / csv / xml). Two deliberate non-defaults: CSV writes
    quote-escape embedded quotes and always emit a header, so a CSV
    written here reads back losslessly through :func:`read_csv` with
    the same schema (the fidelity contract the roundtrip catalog
    queries pin); XML writes pin ``rowTag`` so :func:`read_xml` can
    split files on the same tag."""
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true").option("escape", '"')
    elif fmt == "xml":
        writer = writer.option("rootTag", "rows").option("rowTag", "row")
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.format(fmt).save(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver fixture table from ``{sf_dir}/{name}.parquet``.

    Normalizes every time column to one canonical type — plain
    ``TIMESTAMP`` (session tz, UTC here) — regardless of how the
    fixture generation wrote it:

    - parquet ``timestamp[us]`` without timezone loads as
      ``TIMESTAMP_NTZ``, which ``unix_micros`` / ``withWatermark``
      reject; with a UTC session the cast to ``TIMESTAMP`` is lossless.
    - legacy parquet TIMESTAMP(NANOS) loads ``ts`` as ``bigint``
      nanoseconds under ``spark.sql.legacy.parquet.nanosAsLong``
      (values are whole microseconds, so the conversion is lossless).

    Every downstream consumer (window queries, watermarked streams,
    the DuckDB oracle comparisons) sees the same ``TIMESTAMP`` type;
    ``tests/test_operators_core.py::test_fixture_schema_contract``
    pins the post-load schema so a driver-side fixture regeneration
    fails one obvious test instead of six scattered ones.

    Schema memo: inference reads the footer in a Spark job on every
    bare ``spark.read.parquet``. For a regular local file the inferred
    ``StructType`` is kept in ``_SCHEMAS`` under the file's real path,
    with the signature ``(st_ino, st_size, st_mtime_ns)`` plus the
    values of ``_INFERENCE_CONFS``. While the signature matches, the
    read passes the memoized schema and fires no job; a changed file or
    conf infers again and replaces that path's entry. A path
    ``os.stat`` cannot see, or a directory (a Spark-written table whose
    part files may change without touching the directory's own stat),
    is inferred on every call and never cached.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - read-only conf on some builds
        pass
    df = _read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for f in df.schema.fields:
        kind = f.dataType.simpleString()
        if f.name == "ts" and kind == "bigint":
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"{f.name} div 1000"))
            )
        elif kind == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema memo of
    :func:`load_table`. Needs no lock: an entry is replaced whole, so
    two threads that both miss each store a consistent pair."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    sig = (st.st_ino, st.st_size, st.st_mtime_ns) + tuple(
        spark.conf.get(k) for k in _INFERENCE_CONFS
    )
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[real] = (sig, df.schema)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load several fixture tables; also registers each as a temp view
    so ``spark.sql`` queries can reference them by name."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

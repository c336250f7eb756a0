"""Snapshot versioning with JSON manifests (SURVEY.md §2.2 K4, §2.13
C6).

API parity with the reference (``jobs/utils/versioning.py``):
``create_version`` / ``list_versions`` / ``restore_version`` /
``cleanup_old_versions``, the same ``_version.json`` manifest fields
(version, source_file, year, timestamp, row_count, checksum, columns,
keep_versions) and the same keep-N-newest retention.

Improvements over the reference:

* The checksum is a **distributed, order-insensitive content hash**:
  the sum of a per-row 28-bit md5 hash (:func:`row_hash`). The
  snapshot write observes it and the row count as it writes, so a
  snapshot is exactly one Spark job; restore recomputes it as one
  aggregate over the snapshot it reads. The reference falls back to
  md5(path+now) when ``getFileChecksum`` is unavailable — i.e. a
  random value; ours is a real content fingerprint that is stable
  across file layouts and partition counts, so restore verification is
  meaningful.
* ``version_id``/clock are injectable -> deterministic tests.
* Restore goes through the same atomic swap as production writes.

Delta Lake / Iceberg time-travel subsumes this design when available;
the explicit snapshot layout is kept for reference API parity and for
plain-parquet deployments.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hadoop_data_pipeline_spark.atomic import atomic_write_partition
from hadoop_data_pipeline_spark.fs import FS

KEEP_VERSIONS = 5  # reference retention default (versioning.py:35)


def row_hash(df: DataFrame) -> Column:
    """Per-row md5 over the concatenated values (null-tagged),
    truncated to 28 bits; its sum is the content checksum."""
    # Each column is coalesced onto an explicit NULL sentinel BEFORE
    # concat_ws (which silently skips NULLs): rows differing only in
    # WHICH column is null, e.g. ('a', NULL, 'b') vs ('a', 'b', NULL),
    # must hash differently or restore verification could pass on
    # null-corrupted data.
    tagged = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00"))
        for c in df.columns
    ]
    return F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *tagged)), 1, 7),
        16,
        10,
    ).cast("bigint")


def _hex(total) -> str:
    return format(int(total or 0), "x")


def content_checksum(df: DataFrame) -> str:
    """Order-insensitive distributed content hash: the sum of
    :func:`row_hash`. One aggregate job; no data to the driver beyond
    a single number."""
    return _hex(df.select(F.sum(row_hash(df))).collect()[0][0])


class Versioner:
    """Snapshot manager rooted at ``{root}/year={year}/{version_id}/``."""

    def __init__(self, spark: SparkSession, root: str, keep: int = KEEP_VERSIONS):
        self.spark = spark
        self.root = root.rstrip("/")
        self.keep = keep
        self.fs = FS(spark)

    def _version_dir(self, year: int, version_id: str) -> str:
        return f"{self.root}/year={year}/{version_id}"

    def create_version(
        self,
        df: DataFrame,
        source_file: str,
        year: int,
        version_id: str | None = None,
        now: datetime | None = None,
    ) -> str:
        """Write a parquet snapshot + ``_version.json`` manifest."""
        ts = now or datetime.now(timezone.utc)
        vid = version_id or ts.strftime("v_%Y%m%d_%H%M%S")
        vdir = self._version_dir(year, vid)
        seen = Observation()
        df.observe(
            seen,
            F.count(F.lit(1)).alias("rows"),
            F.sum(row_hash(df)).alias("checksum"),
        ).write.mode("overwrite").parquet(vdir)
        metrics = seen.get
        manifest: dict[str, Any] = {
            "version": vid,
            "source_file": source_file.rsplit("/", 1)[-1],
            "year": year,
            "timestamp": ts.isoformat(),
            "row_count": metrics["rows"],
            "checksum": _hex(metrics["checksum"]),
            "columns": df.columns,
            "keep_versions": self.keep,
        }
        self.fs.write_text(
            f"{vdir}/_version.json", json.dumps(manifest, ensure_ascii=False, indent=2)
        )
        return vid

    def list_versions(self, year: int) -> list[dict[str, Any]]:
        """All manifests for a year, newest first."""
        files = self.fs.list_files(f"{self.root}/year={year}")
        out: list[dict[str, Any]] = []
        for f in files:
            if not f.endswith("_version.json"):
                continue
            content = self.fs.read_text(f)
            if not content:
                continue
            try:
                out.append(json.loads(content))
            except ValueError:
                continue
        return sorted(out, key=lambda v: v["timestamp"], reverse=True)

    def restore_version(
        self,
        version_id: str,
        year: int,
        target_path: str,
        partition_col: str = "year",
    ) -> DataFrame:
        """Read a snapshot and atomically swap it into the target
        table's partition. Always verifies the content hash against the
        manifest first (the reference cannot — its checksum is not
        reproducible)."""
        vdir = self._version_dir(year, version_id)
        df = self.spark.read.parquet(vdir)
        manifest_text = self.fs.read_text(f"{vdir}/_version.json")
        if manifest_text:
            manifest = json.loads(manifest_text)
            actual = content_checksum(df)
            if actual != manifest["checksum"]:
                raise RuntimeError(
                    f"checksum mismatch restoring {version_id}: "
                    f"manifest={manifest['checksum']} actual={actual}"
                )
        atomic_write_partition(df, target_path, partition_col, year)
        return df

    def cleanup_old_versions(self, year: int, keep: int | None = None) -> list[str]:
        """Delete all but the newest ``keep`` snapshots; returns the
        deleted version ids."""
        n = self.keep if keep is None else keep
        versions = self.list_versions(year)
        deleted = []
        for v in versions[n:]:
            self.fs.delete(self._version_dir(year, v["version"]))
            deleted.append(v["version"])
        return deleted

"""Filesystem utilities over the Hadoop FileSystem API (SURVEY.md §2.1
S5, §2.2 K5).

The reference drives HDFS through ``sc._jvm`` for recursive listing,
marker-file touch, and rename/delete (reference ``jobs/utils/hdfs.py``,
``jobs/utils/retry.py:130-178``). This module is the engine's single
JVM-gateway seam: every metadata operation goes through :class:`FS`,
which resolves the FileSystem *from the path's own scheme* — so the
same code runs against ``hdfs://``, ``file://``, ``s3a://`` etc.
(the reference hard-codes the namenode URI).

Scale note: these are control-plane calls (O(files) driver-side RPCs,
never data-plane). Rename-based atomicity (atomic.py) is only atomic
on rename-capable stores (HDFS, ABFS); object stores need a
manifest-commit strategy instead — keeping every FS call behind this
class is what makes that swap possible (SURVEY.md §7.4).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession


class FS:
    """Thin wrapper over ``org.apache.hadoop.fs.FileSystem``."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()

    # -- internals --------------------------------------------------------
    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        # Resolve from the path's scheme (file://, hdfs://, s3a://, or
        # the default FS for bare paths) instead of a fixed namenode.
        return self._path(p).getFileSystem(self._conf)

    # -- operations -------------------------------------------------------
    def exists(self, p: str) -> bool:
        return bool(self._fs(p).exists(self._path(p)))

    def _statuses(self, p: str, recursive: bool):
        """``FileStatus`` of every file under ``p``, depth first in
        listing order; a missing path yields nothing (reference
        ``jobs/utils/hdfs.py:15-26`` behavior), a file path yields
        itself. A walk over ``listStatus``, not ``listFiles``: the
        latter's ``LocatedFileStatus`` fetches block locations no caller
        reads, and both make one RPC per directory."""
        fs = self._fs(p)
        path = self._path(p)
        if not fs.exists(path):
            return
        todo = [iter(fs.listStatus(path))]
        while todo:
            st = next(todo[-1], None)
            if st is None:
                todo.pop()
            elif not st.isDirectory():
                yield st
            elif recursive:
                todo.append(iter(fs.listStatus(st.getPath())))

    def list_files(self, p: str, recursive: bool = True) -> list[str]:
        """Recursive listing (S5). Missing path -> []."""
        return [st.getPath().toString() for st in self._statuses(p, recursive)]

    def list_file_sizes(
        self, p: str, recursive: bool = True
    ) -> list[tuple[str, int]]:
        """Recursive listing with byte sizes — the scheme-agnostic way
        to size a table directory (``glob``/``os.path.getsize`` only
        work on the local FS; this walks the same ``FileStatus`` tree as
        :meth:`list_files`, so it works on ``hdfs://``, ``s3a://`` etc.
        with one RPC per directory). Missing path -> []."""
        return [
            (st.getPath().toString(), int(st.getLen()))
            for st in self._statuses(p, recursive)
        ]

    def touch(self, p: str) -> None:
        """Create an empty marker file (K5)."""
        self._fs(p).create(self._path(p)).close()

    def mkdirs(self, p: str) -> None:
        self._fs(p).mkdirs(self._path(p))

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs(src).rename(self._path(src), self._path(dst)))

    def delete(self, p: str, recursive: bool = True) -> bool:
        fs = self._fs(p)
        path = self._path(p)
        if not fs.exists(path):
            return False
        return bool(fs.delete(path, recursive))

    def write_text(self, p: str, content: str) -> None:
        """Write a small text file (manifests, reports). Control-plane
        only — never row data."""
        self.write_bytes(p, content.encode("utf-8"))

    def write_bytes(self, p: str, content: bytes) -> None:
        """Write a small binary file (uploads via the REST façade).
        Control-plane sized — bulk data belongs to the DataFrame
        writers, not a single driver-side stream."""
        out = self._fs(p).create(self._path(p), True)
        out.write(bytearray(content))
        out.close()

    def read_text(self, p: str) -> str | None:
        fs = self._fs(p)
        path = self._path(p)
        if not fs.exists(path):
            return None
        stream = fs.open(path)
        try:
            bos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, bos, 65536, False
            )
            return bytes(bos.toByteArray()).decode("utf-8")
        finally:
            stream.close()


def repair_table_partitions(spark: SparkSession, table: str) -> None:
    """K2: sync the catalog with partition directories written directly
    to the filesystem (reference ``jobs/finance_pipeline.py:60`` uses
    ``MSCK REPAIR TABLE`` after an external parquet write)."""
    spark.sql(f"MSCK REPAIR TABLE {table}")


def extract_year_from_path(path: str) -> int | None:
    """Pull the fiscal year out of a ``year=YYYY`` path component
    (reference ``jobs/utils/hdfs.py:35-41``)."""
    m = re.search(r"year=(\d{4})", path)
    return int(m.group(1)) if m else None

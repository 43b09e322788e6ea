"""Driver-side file listing for parsers that size or pick their input
before reading it."""

from __future__ import annotations

from pyspark.sql import SparkSession


def list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """``(path, bytes)`` of every plain file under ``path`` (recursive; a
    file path lists itself, a missing path lists nothing). Hadoop FS
    metadata only, no Spark job, works for any supported filesystem
    (file://, s3a://, hdfs://)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        out.append((str(status.getPath()), status.getLen()))
    return out

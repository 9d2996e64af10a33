"""Driver-side Hadoop FileSystem listing (control plane, no Spark job).

Every path the engine writes can live on any Hadoop-supported filesystem
(local, HDFS, s3a/abfs/gcs), so directory bookkeeping goes through the
``FileSystem`` resolved from the path and the session's Hadoop conf —
the same resolution the parquet data plane uses. A listing is a few
py4j calls on the driver; answering the same question with a DataFrame
(``spark.read.parquet(...).select(...).distinct()``) costs a schema
inference job plus a shuffle job.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, jvm) for ``path`` via the session's Hadoop conf."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def list_children(fs, jvm, dir_path: str) -> list[str]:
    """Child names of ``dir_path`` ([] when it doesn't exist)."""
    p = jvm.org.apache.hadoop.fs.Path(dir_path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def list_entries(fs, jvm, dir_path: str) -> list[tuple[str, bool]]:
    """(name, is_directory) per child of ``dir_path`` ([] when it
    doesn't exist)."""
    p = jvm.org.apache.hadoop.fs.Path(dir_path)
    if not fs.exists(p):
        return []
    return [(st.getPath().getName(), st.isDirectory()) for st in fs.listStatus(p)]


def is_hidden(name: str) -> bool:
    """Spark's partition-discovery rule: ``_``/``.``-prefixed names
    (``_SUCCESS``, ``_temporary``, ``.crc`` checksums) are not data."""
    return name.startswith(("_", "."))


def holds_data_file(fs, jvm, dir_path: str) -> bool:
    """True when ``dir_path`` holds a non-hidden file at any depth below
    non-hidden directories — the condition under which Spark's partition
    discovery sees it as a partition. Stops at the first such file."""
    todo = [dir_path]
    while todo:
        d = todo.pop()
        for name, is_dir in list_entries(fs, jvm, d):
            if is_hidden(name):
                continue
            if not is_dir:
                return True
            todo.append(posixpath.join(d, name))
    return False

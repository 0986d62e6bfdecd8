"""Hadoop filesystem handles and the schema-caching parquet reader.

A leaf module: it imports nothing from ``sources``, ``sinks`` or
``operators``, so every one of them can import it at module level.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """``(Path class, FileSystem)`` for ``path``: the Hadoop handles every
    listing, rename and delete in the package goes through, so each works
    on any supported storage scheme (local, HDFS, s3a/abfs), not only the
    local filesystem ``os``/``shutil`` reach."""
    hadoop_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs = hadoop_path(path).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    return hadoop_path, fs


# Reader settings that change the schema Spark infers from the same files.
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
_SUMMARIES = ("_common_metadata", "_metadata")  # in the order Spark prefers them
_SCHEMAS: dict[str, tuple] = {}  # path -> (key, schema) of its last inference


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps ``name``: it skips ``.``-names,
    ``_``-names other than ``_k=v`` partitions, and ``._COPYING_``
    files, but keeps the parquet summary files."""
    if name.startswith(_SUMMARIES):
        return True
    hidden = name.startswith(".") or (name.startswith("_") and "=" not in name)
    return not hidden and not name.endswith("._COPYING_")


def _files_key(spark: SparkSession, path: str) -> tuple | None:
    """The reader settings plus ``(path, length, mtime)`` of the one file
    a plain ``spark.read.parquet(path)`` infers its schema from: ``path``
    itself when it is a file; in a directory, ``_common_metadata``, else
    ``_metadata``, else the first data file by sorted path. None where
    the read would list more than that directory."""
    if any(c in path for c in "*?[{"):
        return None
    hadoop_path, fs = hadoop_fs(spark, path)
    try:
        st = fs.getFileStatus(hadoop_path(path))
    except Py4JJavaError:  # missing path: the plain read raises its own error
        return None
    if st.isDirectory():
        listed = {}
        for s in fs.listStatus(hadoop_path(path)):
            name = s.getPath().getName()
            if _listed(name):
                if s.isDirectory():  # a partitioned or nested layout
                    return None
                listed[name] = s
        if not listed:
            return None
        summaries = [n for n in _SUMMARIES if n in listed]
        st = listed[summaries[0] if summaries else min(listed)]
    return tuple(spark.conf.get(k, None) for k in _INFER_CONFS) + (
        st.getPath().toString(), st.getLen(), st.getModificationTime()
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    version of the file it is inferred from. Each inferring read runs a
    Spark job over a file footer; this reader keeps the inferred schema
    keyed on the path, length and modification time of the one file
    Spark infers from (see :func:`_files_key`: a directory's summary
    file, else its first data file by sorted path), listed through
    Hadoop ``FileSystem`` so any scheme works, and on the reader
    settings that change inference. While the key holds, the schema
    goes to ``spark.read.schema``. A file added to a directory keeps the
    key, and the cached schema, when it sorts after the inferring file:
    an appended part file does not force a new inference. Rewriting or
    replacing the inferring file changes the key, and the next read
    infers again. One entry per path.

    A glob, a missing path, an empty directory and a directory with a
    visible subdirectory (a partitioned or nested layout) fall back to
    the plain read."""
    key = _files_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df

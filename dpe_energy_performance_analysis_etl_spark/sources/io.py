"""File sources/sinks that hide a recipe (SURVEY §2.1, S1-S14).

All readers/writers take any Hadoop-compatible URI — local paths in
tests, ``s3a://bucket/key`` in object-store deployments (replacing the
reference's hand-rolled minio client, ``filestorage_helper.py:44-61``,
with zero custom transfer code), ``hdfs://`` on a cluster.

Scale notes baked in:
  - explicit schemas on CSV/JSON (no sampling pass over 100 TB), with
    one dead-letter recipe for malformed lines;
  - parquet writes in the session's codec (snappy by default; the
    reference used gzip, ``filestorage_helper.py:99``), optionally laid
    out for partition and row-group pruning.

Plain scans and writes need no wrapper here: call Spark's own readers
and writers (``spark.read.parquet`` / ``.jdbc`` / ``.orc`` /
``.text``, ``df.write.json`` / ``.jdbc``) directly. Their column
pruning and filter pushdown are what the idempotent-append gate
``operators.anti_join_new_rows`` relies on (``sources/sinks.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession, types as T


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop FS API, so
    local, s3a and hdfs paths are handled alike."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _with_dead_letter(
    reader: DataFrameReader,
    schema: T.StructType | None,
    mode: str,
    corrupt_col: str | None,
) -> DataFrameReader:
    """``mode``: PERMISSIVE (malformed lines become NULL rows, or land
    verbatim in ``corrupt_col`` when set with an explicit schema),
    DROPMALFORMED, or FAILFAST. At 100 TB a crawl dump ALWAYS contains
    broken lines; quarantining them into a corrupt column (then routing
    to a dead-letter sink) beats both silently dropping them and
    aborting a 6-hour job on line 40 billion."""
    reader = reader.option("mode", mode)
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    return reader


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """S1/S2 — `;`-separated CSV scan with a header line
    (``extract.py:129-135``).

    Without a schema every column is a STRING (no inference):
    inference silently corrupts code-like fields (``code_iris``
    '060290100' → int 60290100 loses the leading zero that encodes the
    département) and costs an extra full pass over the data at scale.
    Pass an explicit schema, or let the transform layer's autocast type
    the columns safely. ``mode``/``corrupt_col``: see
    ``_with_dead_letter``."""
    reader = spark.read.option("sep", ";").option("header", True)
    return _with_dead_letter(reader, schema, mode, corrupt_col).csv(path)


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """S10 — JSON-lines scan (``filestorage_helper.py:138-151``).
    ``mode``/``corrupt_col``: see ``_with_dead_letter``."""
    return _with_dead_letter(spark.read, schema, mode, corrupt_col).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """S7 — parquet sink (``filestorage_helper.py:83-128`` wrote gzip;
    here the session's codec, ``spark.sql.parquet.compression.codec``,
    snappy by default — faster scans at scale).

    ``partition_by`` enables directory-level partition pruning on read
    (e.g. by ``code_departement`` / date). ``sort_by`` range-partitions
    and sorts rows WITHIN files on those columns, so parquet row-group
    min/max statistics prune at a finer grain — the data-skipping
    layout for columns too high-cardinality to directory-partition
    (timestamps, ids)."""
    if sort_by:
        df = df.repartitionByRange(*sort_by).sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def materialize_parquet(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to a zone and return a scan of the files just
    written. The zone becomes a durable boundary: later actions read
    parquet instead of replaying ``df``'s lineage (and any fetch stage
    inside it). The scan takes ``df``'s schema, which the write just
    produced, instead of inferring it from the footers in a Spark job."""
    write_parquet(df, path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def purge_dir(spark: SparkSession, path: str) -> bool:
    """S14 — archive purge via the Hadoop FS API (works for local,
    s3a, hdfs uniformly; ``purge_archive_dir``,
    ``filestorage_helper.py:63-81``)."""
    fs, hpath = hadoop_fs(spark, path)
    if fs.exists(hpath):
        return bool(fs.delete(hpath, True))
    return False


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: pre-shuffles rows into
    ``num_buckets`` files by hash of ``bucket_cols`` so that any later
    equi-join or aggregation on those columns needs NO exchange — the
    100 TB answer to repeatedly-joined fact tables (pay the shuffle
    once at write time). Verified in tests: a join of two tables
    bucketed on the same key plans zero Exchange operators."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def dir_stats(spark: SparkSession, path: str, suffix: str = ".parquet") -> dict:
    """File count + total bytes of the data files under ``path`` via
    the Hadoop FS API (local/s3a/hdfs uniformly) — the input to
    compaction sizing decisions."""
    fs, hpath = hadoop_fs(spark, path)
    n_files, total = 0, 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if st.isFile() and name.endswith(suffix) and not name.startswith("_"):
            n_files += 1
            total += st.getLen()
    return {"n_files": n_files, "total_bytes": total}


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files.

    The small-files problem is a first-order 100 TB failure mode: a
    streaming/incremental writer (e.g. ``streaming/incremental.py``'s
    per-micro-batch appends) accretes thousands of KB-sized files, and
    every downstream scan then pays per-file open/footer/seek costs
    plus driver-side listing memory. Periodic compaction is the
    standard maintenance op (what table formats schedule as
    OPTIMIZE / rewrite_data_files).

    Semantics: read → ``repartition(n)`` (round-robin — even output
    sizes) → write to a sibling temp dir → atomic-ish swap via Hadoop
    FS renames (old dir is moved aside and deleted only after the new
    one is in place, so a crash leaves either the old or the new dir,
    never a partial mix). NOT safe under concurrent writers — pause
    the writer or compact into a new snapshot path in that case (the
    rename-swap is the single-writer variant; table formats solve the
    concurrent case with manifest commits).

    Returns {files_before, files_after, total_bytes, skipped}.
    """
    stats = dir_stats(spark, path)
    if stats["n_files"] < min_files_to_compact:
        return {**stats, "files_before": stats["n_files"], "files_after": stats["n_files"], "skipped": True}
    n_out = max(1, -(-stats["total_bytes"] // target_file_bytes))  # ceil
    if n_out >= stats["n_files"]:
        return {**stats, "files_before": stats["n_files"], "files_after": stats["n_files"], "skipped": True}

    fs, hpath = hadoop_fs(spark, path.rstrip("/"))
    tmp, bak = hpath.suffix("__compacting"), hpath.suffix("__precompact")
    for stale in (tmp, bak):
        if fs.exists(stale):
            fs.delete(stale, True)

    df = spark.read.parquet(path)
    df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp.toString())

    if not fs.rename(hpath, bak):
        fs.delete(tmp, True)
        raise IOError(f"compaction swap failed: could not move {path} aside")
    if not fs.rename(tmp, hpath):
        fs.rename(bak, hpath)  # roll back
        raise IOError(f"compaction swap failed: could not move new data into {path}")
    fs.delete(bak, True)

    after = dir_stats(spark, path)
    return {
        "files_before": stats["n_files"],
        "files_after": after["n_files"],
        "total_bytes": after["total_bytes"],
        "skipped": False,
    }

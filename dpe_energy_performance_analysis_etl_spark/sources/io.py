"""File and JDBC sources/sinks (SURVEY §2.1, S1-S14).

All readers/writers take any Hadoop-compatible URI — local paths in
tests, ``s3a://bucket/key`` in object-store deployments (replacing the
reference's hand-rolled minio client, ``filestorage_helper.py:44-61``,
with zero custom transfer code), ``hdfs://`` on a cluster.

Scale notes baked in:
  - explicit schemas on CSV/JSON (no sampling pass over 100 TB);
  - parquet with configurable codec (reference used gzip,
    ``filestorage_helper.py:99``; snappy/zstd better at scale);
  - JDBC reads prune to the needed columns and can parallelize via
    ``partitionColumn`` — the reference read whole tables single-
    threaded (``load.py:127-131``). Filters on the result push into
    the query too: for numeric, date and timestamp keys the
    idempotent-append gate ``operators.anti_join_new_rows`` reads only
    the batch's key range from the sink (``sources/sinks.py``).

ORC, text and XML files need no wrapper here: call Spark's built-in
readers and writers (``spark.read.orc`` / ``.text`` /
``.format("xml")``) directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sep: str = ";",
    header: bool = True,
    infer: bool = False,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """S1/S2 — `;`-separated CSV scan (``extract.py:129-135``).

    Default is STRING columns (no inference): inference silently
    corrupts code-like fields (``code_iris`` '060290100' → int 60290100
    loses the leading zero that encodes the département) and costs an
    extra full pass over the data at scale. Pass an explicit schema,
    or let the transform layer's autocast type the columns safely.

    ``mode``/``corrupt_col``: same dead-letter contract as
    ``read_json_lines`` — malformed lines quarantine into
    ``corrupt_col`` (requires an explicit schema), DROPMALFORMED
    drops them, FAILFAST aborts.
    """
    reader = spark.read.option("sep", sep).option("header", header).option("mode", mode)
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """S9 — parquet scan (``filestorage_helper.py:130-156``).

    ``merge_schema=True`` unions the footers of every file so a zone
    written across schema generations (columns added over time — the
    normal life of a bronze directory) reads as ONE evolved schema,
    older files null-filling the new columns. Off by default: footer
    merging reads every file's metadata up front, which matters at
    many-thousand-file scale; flip it per read, not globally."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """S10 — JSON-lines scan (``filestorage_helper.py:138-151``).

    ``mode``: PERMISSIVE (default — malformed lines become NULL rows,
    or land verbatim in ``corrupt_col`` when set with an explicit
    schema), DROPMALFORMED, or FAILFAST. At 100 TB a crawl dump
    ALWAYS contains broken lines; quarantining them into a corrupt
    column (then routing to a dead-letter sink) beats both silently
    dropping them and aborting a 6-hour job on line 40 billion."""
    reader = spark.read.option("mode", mode)
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "snappy",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """S7 — parquet sink (``filestorage_helper.py:83-128`` wrote gzip;
    default here is snappy — faster scans at scale — with the codec
    still a knob).

    ``partition_by`` enables directory-level partition pruning on read
    (e.g. by ``code_departement`` / date). ``sort_by`` range-partitions
    and sorts rows WITHIN files on those columns, so parquet row-group
    min/max statistics prune at a finer grain — the data-skipping
    layout for columns too high-cardinality to directory-partition
    (timestamps, ids)."""
    if sort_by:
        df = df.repartitionByRange(*sort_by).sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode).option("compression", compression)
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


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S8 — JSON-lines sink (``filestorage_helper.py:101-123``)."""
    df.write.mode(mode).json(path)


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str],
    columns: list[str] | None = None,
    predicate: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """S11 — JDBC scan (``load.py:127-131`` read the ENTIRE target
    table into pandas just to get existing keys). Here column pruning
    and predicates push down into the database, and large tables read
    in ``num_partitions`` parallel range slices."""
    projection = ", ".join(columns) if columns else "*"
    where = f" WHERE {predicate}" if predicate else ""
    dbtable = f"(SELECT {projection} FROM {table}{where}) AS src"
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in properties.items():
        reader = reader.option(k, v)
    if partition_column and lower_bound is not None and upper_bound is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
            .option("numPartitions", num_partitions)
        )
    return reader.load()


def append_jdbc_table(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str],
    batchsize: int = 10_000,
    dialect=None,
) -> None:
    """S12 — JDBC append sink (``load.py:170-176``). Pass a
    ``JdbcDialect`` (or ``dialect="auto"`` to resolve from the URL)
    to apply its ``createTableColumnTypes`` overrides when Spark
    auto-creates the table — e.g. sized VARCHAR instead of Derby
    CLOB / Postgres TEXT on string key columns (the upsert layer's
    documented create-the-target path)."""
    writer = (
        df.write.format("jdbc")
        .mode("append")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batchsize)
        .options(**properties)
    )
    if dialect is not None:
        if dialect == "auto":
            from dpe_energy_performance_analysis_etl_spark.sources.jdbc_dialect import dialect_for_url

            dialect = dialect_for_url(url)
        ddl = dialect.create_table_column_types(df.schema)
        if ddl:
            writer = writer.option("createTableColumnTypes", ddl)
    writer.save()


def purge_dir(spark: SparkSession, path: str) -> bool:
    """S14 — archive purge via the Hadoop FS API (works for local,
    s3a, hdfs uniformly; ``purge_archive_dir``,
    ``filestorage_helper.py:63-81``)."""
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
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
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
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

    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compacting")
    bak = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__precompact")
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
